"""The generator and edit script are pure functions of the seed."""

import ast

import pytest

from corpus import EDIT_KINDS, Project, Size, tree_digest


def _script_digest(project: Project) -> str:
    return tree_digest({
        f"{i}:{s.kind}:{path}": text
        for i, s in enumerate(project.edit_script())
        for path, text in s.writes.items()
    })


@pytest.mark.parametrize("size", [Size.full, Size.tiny])
def test_same_seed_same_tree_and_script(size):
    a, b = Project(7, size()), Project(7, size())
    assert a.files() == b.files()
    assert tree_digest(a.files()) == tree_digest(b.files())
    assert _script_digest(a) == _script_digest(b)
    assert [s.found for s in a.edit_script()] == [s.found for s in b.edit_script()]


@pytest.mark.parametrize("size", [Size.full, Size.tiny])
def test_other_seed_other_tree_and_script(size):
    a, b = Project(7, size()), Project(8, size())
    assert tree_digest(a.files()) != tree_digest(b.files())
    assert _script_digest(a) != _script_digest(b)


def test_edit_seed_overrides_project_seed():
    p = Project(7, Size.tiny())
    assert [s.writes for s in p.edit_script(1)] == [s.writes for s in p.edit_script(1)]
    assert [s.writes for s in p.edit_script(1)] != [s.writes for s in p.edit_script(2)]
    assert [s.kind for s in p.edit_script(3, ("modify",))] == ["modify"] * p.size.edit_rounds


def test_edit_script_leaves_project_unchanged():
    p = Project(3, Size.tiny())
    before = p.files()
    p.edit_script()
    assert p.files() == before


def test_tree_shape():
    p = Project(5)
    files = p.files()
    for path, text in files.items():
        if path.endswith(".py"):
            ast.parse(text, path)
    exts = {path.rsplit(".", 1)[1] for path in files}
    assert {"py", "js", "ts", "md", "json"} <= exts
    vendored = [path for path in files if path.startswith("vendor/")]
    assert vendored and all(files[v] == files[v.split("/", 2)[2]] for v in vendored)
    # every module's needle function is defined only there (and in its copies)
    for m in p.modules.values():
        holders = [path for path, text in files.items() if f"def load_{m.token}(" in text]
        assert m.relpath in holders
        assert all(h == m.relpath or h.startswith("vendor/") for h in holders)


def test_edit_script_steps():
    p = Project(11)
    steps = p.edit_script()
    assert [s.kind for s in steps[: len(EDIT_KINDS)]] != list(EDIT_KINDS)  # shuffled
    assert sorted(s.kind for s in steps) == sorted(EDIT_KINDS * p.size.edit_rounds)
    tree = p.files()
    for s in steps:
        for path, text in s.writes.items():
            if text is None:
                assert path in tree
                tree.pop(path)
            else:
                ast.parse(text, path)
                tree[path] = text
        for needle, path, entity in s.found:
            assert needle in p.glossary
            assert needle in tree[path] and entity in tree[path]
        for _needle, path, _entity in s.gone:
            assert path not in tree
        if s.kind == "noop":
            assert not s.writes
