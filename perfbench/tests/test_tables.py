"""The catalog tables are a pure function of the seed, and the oracle
comparison notices a wrong result."""

import pyarrow.parquet as pq

from tables import TABLES, Oracle, make_tables, write_tables


def test_same_seed_same_tables():
    a, b = make_tables(3, 500), make_tables(3, 500)
    assert set(a) == set(TABLES)
    assert all(a[t].equals(b[t]) for t in TABLES)


def test_other_seed_other_tables():
    a, b = make_tables(3, 500), make_tables(4, 500)
    assert not a["lineitem"].equals(b["lineitem"])
    assert not a["documents"].equals(b["documents"])


def test_oracle_check(tmp_path):
    write_tables(str(tmp_path), 5, 300)
    assert pq.read_metadata(str(tmp_path / "orders.parquet")).num_rows == 300
    oracle = Oracle(str(tmp_path))
    sql = "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey"
    rows = [(r, 5) for r in range(5)]
    assert oracle.check(sql, ["n_regionkey", "n"], rows[::-1]) is None
    assert oracle.check(sql, ["n_regionkey", "n"], rows[1:]) is not None
    assert oracle.check(sql, ["n_regionkey", "n"], [(0, 4)] + rows[1:]) is not None
    assert oracle.check(sql, ["n_regionkey", "count"], rows) is not None


def test_oracle_ignores_the_sign_of_zero(tmp_path):
    write_tables(str(tmp_path), 5, 300)
    oracle = Oracle(str(tmp_path))
    assert oracle.check("SELECT -0.0::DOUBLE AS z", ["z"], [(0.0,)]) is None
    assert oracle.check("SELECT 0.0::DOUBLE AS z", ["z"], [(-1e-9,)]) is None
    assert oracle.check("SELECT 0.0::DOUBLE AS z", ["z"], [(-1e-3,)]) is not None
