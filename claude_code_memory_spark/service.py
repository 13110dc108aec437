"""Multi-project indexing service (ST6).

Reference semantics (service.py:22-340): a JSON config registry of
projects ({path, collection, enabled, settings}) with add/remove/status,
plus a runner that keeps every enabled project indexed (the reference
attaches one watchdog observer per project; here one SparkSession serves
every collection — each project's batch is an independent Spark job, and
on a cluster they simply share the scheduler pool).

run_once() is the cron-style pass: each enabled project gets an
incremental index() (a no-op re-index is one file-listing join, so a
frequent service tick is cheap). watch_all() attaches one streaming
watcher per project over a shared event-feed directory tree.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import SparkSession

DEFAULT_SETTINGS: dict[str, Any] = {
    "max_file_size": 1_048_576,
    "quiet_seconds": 2.0,
}


class IndexingService:
    """Registry + runner for many projects/collections on one session."""

    def __init__(
        self,
        spark: SparkSession,
        home: str | None = None,
        config_file: str | None = None,
    ):
        self.spark = spark
        self.home = home or os.environ.get(
            "CCMS_HOME",
            os.path.join(os.path.expanduser("~"), ".claude_code_memory_spark"),
        )
        self.config_file = config_file or os.path.join(self.home, "service.json")
        self._engines: dict[str, Any] = {}

    # -- registry ----------------------------------------------------------

    def load_config(self) -> dict[str, Any]:
        if os.path.exists(self.config_file):
            with open(self.config_file) as fh:
                return json.load(fh)
        return {"projects": [], "settings": dict(DEFAULT_SETTINGS)}

    def save_config(self, config: dict[str, Any]) -> None:
        os.makedirs(os.path.dirname(self.config_file), exist_ok=True)
        tmp = self.config_file + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(config, fh, indent=2)
        os.replace(tmp, self.config_file)  # same atomic-write discipline as TableStore

    def add_project(
        self,
        project_path: str,
        collection: str,
        settings: dict[str, Any] | None = None,
    ) -> bool:
        project_path = os.path.abspath(project_path)
        config = self.load_config()
        if any(p["path"] == project_path for p in config["projects"]):
            return False
        config["projects"].append(
            {
                "path": project_path,
                "collection": collection,
                "enabled": True,
                "settings": settings or {},
            }
        )
        self.save_config(config)
        return True

    def remove_project(self, project_path: str) -> bool:
        project_path = os.path.abspath(project_path)
        config = self.load_config()
        before = len(config["projects"])
        config["projects"] = [
            p for p in config["projects"] if p["path"] != project_path
        ]
        if len(config["projects"]) == before:
            return False
        self.save_config(config)
        return True

    def set_enabled(self, project_path: str, enabled: bool) -> bool:
        project_path = os.path.abspath(project_path)
        config = self.load_config()
        for p in config["projects"]:
            if p["path"] == project_path:
                p["enabled"] = enabled
                self.save_config(config)
                return True
        return False

    # -- engines -----------------------------------------------------------

    def engine(self, collection: str):
        from claude_code_memory_spark.api import CodeMemoryEngine

        if collection not in self._engines:
            self._engines[collection] = CodeMemoryEngine(
                self.spark, os.path.join(self.home, collection)
            )
        return self._engines[collection]

    # -- operations --------------------------------------------------------

    def status(self) -> list[dict[str, Any]]:
        """Registry + store state per project (reference `service status`)."""
        out = []
        for p in self.load_config()["projects"]:
            eng = self.engine(p["collection"])
            chunks = eng.store.read_arrow("chunks")
            state = eng.store.read_arrow("file_state")
            out.append(
                {
                    "path": p["path"],
                    "collection": p["collection"],
                    "enabled": p["enabled"],
                    "indexed": chunks is not None,
                    "n_chunks": chunks.num_rows if chunks is not None else 0,
                    "n_files": state.num_rows if state is not None else 0,
                }
            )
        return out

    def run_once(self) -> dict[str, dict]:
        """One incremental pass over every enabled project."""
        results: dict[str, dict] = {}
        for p in self.load_config()["projects"]:
            if not p.get("enabled", True):
                continue
            t0 = time.time()
            counters = self.engine(p["collection"]).index(p["path"])
            counters["seconds"] = round(time.time() - t0, 2)
            results[p["path"]] = counters
        return results

    def watch_all(self, events_root: str) -> list:
        """One streaming watcher per enabled project. Event feeds live in
        {events_root}/{collection}/ (the per-project JSONL feed the
        single-project `watch` command uses)."""
        from claude_code_memory_spark.streaming.pipeline import start_watch

        queries = []
        settings = self.load_config().get("settings", DEFAULT_SETTINGS)
        for p in self.load_config()["projects"]:
            if not p.get("enabled", True):
                continue
            ev_dir = os.path.join(events_root, p["collection"])
            os.makedirs(ev_dir, exist_ok=True)
            queries.append(
                start_watch(
                    self.engine(p["collection"]),
                    ev_dir,
                    p["path"],
                    quiet_seconds=float(
                        p.get("settings", {}).get(
                            "quiet_seconds", settings.get("quiet_seconds", 2.0)
                        )
                    ),
                )
            )
        return queries
