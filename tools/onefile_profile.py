"""One-file incremental reindex profile: where a single-file re-index
spends its time. Full-indexes the target, then drops one file_state row
(the first by relative_path, or pass one as argv[2]) and re-indexes that
single file with profile=True, printing the wall times and Spark job
counts of both, the stage split and the relations- and chunks-multiset
oracles.

Usage: python tools/onefile_profile.py [target_dir] [victim_rel_path]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from claude_code_memory_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) > 1:
        target = sys.argv[1]
    else:
        import pyspark

        target = os.path.dirname(os.path.abspath(pyspark.__file__))

    from pyspark.sql import functions as F

    from claude_code_memory_spark.api import CodeMemoryEngine

    spark = get_spark("onefile_profile")
    spark.sparkContext.setLogLevel("ERROR")
    store = tempfile.mkdtemp(prefix="onefile_store_")
    out: dict = {"target": target}
    try:
        eng = CodeMemoryEngine(spark, store)
        sc = spark.sparkContext

        def timed(name, fn):
            sc.setJobGroup(name, name)
            t0 = time.time()
            try:
                return fn()
            finally:
                out[f"{name}_sec"] = round(time.time() - t0, 2)
                sc.setJobGroup("idle", "idle")
                out[f"{name}_jobs"] = len(sc.statusTracker().getJobIdsForGroup(name))

        timed("full_index", lambda: eng.index(target))

        def fingerprint(table, *cols):
            agg = (
                eng.store.read(table)
                .select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
                .agg(F.count(F.lit(1)).alias("n"), F.sum("h").cast("string").alias("hs"))
                .collect()[0]
            )
            return int(agg["n"]), agg["hs"]

        def fingerprints():
            return (
                fingerprint(
                    "relations", "from_entity", "to_entity", "relation_type",
                    "import_type", "file_path",
                ),
                fingerprint("chunks", "chunk_id", "file_path", "content_hash"),
            )

        fs = eng.store.read("file_state")
        if len(sys.argv) > 2:
            victim = sys.argv[2]
        else:
            victim = fs.orderBy("relative_path").limit(1).collect()[0]["relative_path"]
        before = fingerprints()
        eng.store.write("file_state", fs.filter(F.col("relative_path") != victim))
        one = timed("one_file_reindex", lambda: eng.index(target, profile=True))
        after = fingerprints()
        out["victim"] = victim
        out["files_changed"] = one.get("files_changed")
        out["stage_sec"] = one.get("stage_sec")
        out["stage_cpu"] = one.get("stage_cpu")
        out["relations_multiset_equal"] = before[0] == after[0]
        out["chunks_multiset_equal"] = before[1] == after[1]
    finally:
        shutil.rmtree(store, ignore_errors=True)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
