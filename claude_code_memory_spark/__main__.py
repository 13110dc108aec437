"""CLI — the reference's `claude-indexer` surface (cli_full.py:96-1073).

    python -m claude_code_memory_spark index  -p <project> -c <collection>
    python -m claude_code_memory_spark search "query" -c <collection>
           [--mode semantic|keyword|hybrid] [--type <entity_type>] [-k N]
    python -m claude_code_memory_spark graph  <entity> -c <collection> [--bfs]
    python -m claude_code_memory_spark impl   <entity> -c <collection> [--deps]
    python -m claude_code_memory_spark stats  -c <collection>
    python -m claude_code_memory_spark watch  -p <project> -c <collection> --events <dir>

Collections live under $CCMS_HOME (default ~/.claude_code_memory_spark).
"""

from __future__ import annotations

import argparse
import os
import sys


def _engine(collection: str):
    from claude_code_memory_spark.api import CodeMemoryEngine
    from claude_code_memory_spark.session import get_spark

    home = os.environ.get(
        "CCMS_HOME", os.path.join(os.path.expanduser("~"), ".claude_code_memory_spark")
    )
    spark = get_spark(f"ccms-{collection}")
    spark.sparkContext.setLogLevel("ERROR")
    return CodeMemoryEngine(spark, os.path.join(home, collection))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="claude_code_memory_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_index = sub.add_parser("index")
    p_index.add_argument("-p", "--project", required=True)
    p_index.add_argument("-c", "--collection", required=True)
    p_index.add_argument("--full", action="store_true", help="non-incremental rebuild")

    p_search = sub.add_parser("search")
    p_search.add_argument("query")
    p_search.add_argument("-c", "--collection", required=True)
    p_search.add_argument("--mode", default="semantic",
                          choices=["semantic", "keyword", "hybrid"])
    p_search.add_argument("--type", dest="entity_type", default=None)
    p_search.add_argument("-k", type=int, default=10)
    p_search.add_argument("--threshold", type=float, default=0.0)
    p_search.add_argument("--ann", action="store_true",
                          help="approximate allowed; answered exactly")

    p_graph = sub.add_parser("graph")
    p_graph.add_argument("entity")
    p_graph.add_argument("-c", "--collection", required=True)
    p_graph.add_argument("--bfs", action="store_true")
    p_graph.add_argument("--limit", type=int, default=50)

    p_impl = sub.add_parser("impl")
    p_impl.add_argument("entity")
    p_impl.add_argument("-c", "--collection", required=True)
    p_impl.add_argument("--scope", default="minimal",
                        choices=["minimal", "logical", "dependencies"])
    p_impl.add_argument("--deps", action="store_true",
                        help="shorthand for --scope dependencies")

    p_mem = sub.add_parser("memory", help="store a manual memory")
    p_mem.add_argument("name")
    p_mem.add_argument("content")
    p_mem.add_argument("-c", "--collection", required=True)
    p_mem.add_argument("--type", dest="entity_type", default="documentation")

    p_clear = sub.add_parser("clear", help="clear collection")
    p_clear.add_argument("-c", "--collection", required=True)
    p_clear.add_argument("--all", action="store_true",
                         help="also drop manual memories")

    p_opt = sub.add_parser(
        "optimize", help="compact the chunks snapshots into one"
    )
    p_opt.add_argument("-c", "--collection", required=True)

    p_stats = sub.add_parser("stats")
    p_stats.add_argument("-c", "--collection", required=True)
    p_stats.add_argument("--bloat", action="store_true",
                         help="full storage-efficiency report (bloat_analysis.py)")
    p_stats.add_argument("--near-dups", action="store_true", dest="near_dups",
                         help="MinHash near-duplicate memory pairs")
    p_stats.add_argument("--validate", action="store_true",
                         help="collection-integrity constraint report")
    p_stats.add_argument("--profile", default=None, metavar="TABLE",
                         help="single-pass column profile of a store table")

    p_chat = sub.add_parser("chat", help="index a conversation JSONL")
    p_chat.add_argument("--file", required=True, help="chat JSONL path")
    p_chat.add_argument("-c", "--collection", required=True)
    p_chat.add_argument("--gap-hours", type=float, default=1.0)

    p_report = sub.add_parser(
        "report", help="render a conversation HTML report (chat/html_report.py twin)"
    )
    p_report.add_argument("--file", required=True, help="chat JSONL path")
    p_report.add_argument("-o", "--output", required=True, help="output .html path")
    p_report.add_argument("--chat-id", default=None)
    p_report.add_argument("--session-id", type=int, default=None)
    p_report.add_argument("--gap-hours", type=float, default=1.0)

    p_sql = sub.add_parser("sql", help="ad-hoc SQL over the collection's tables")
    p_sql.add_argument("-c", "--collection", required=True)
    p_sql.add_argument("query", help="SQL over chunks/entities/relations/vectors/file_state")
    p_sql.add_argument("-n", "--rows", type=int, default=50)

    p_guard = sub.add_parser(
        "guard", help="memory-guard hook: hook JSON on stdin -> decision JSON"
    )
    p_guard.add_argument("-c", "--collection", required=True)
    p_guard.add_argument("-p", "--project", required=True, help="project root")

    p_watch = sub.add_parser("watch")
    p_watch.add_argument("-p", "--project", required=True)
    p_watch.add_argument("-c", "--collection", required=True)
    p_watch.add_argument("--events", required=True, help="event JSONL directory")
    p_watch.add_argument("--quiet-seconds", type=float, default=2.0)

    p_svc = sub.add_parser(
        "service", help="multi-project registry (reference service.py)"
    )
    svc_sub = p_svc.add_subparsers(dest="svc_cmd", required=True)
    s_add = svc_sub.add_parser("add")
    s_add.add_argument("-p", "--project", required=True)
    s_add.add_argument("-c", "--collection", required=True)
    s_rm = svc_sub.add_parser("remove")
    s_rm.add_argument("-p", "--project", required=True)
    svc_sub.add_parser("status")
    svc_sub.add_parser("run", help="one incremental pass over all projects")
    s_watch = svc_sub.add_parser("watch", help="stream-watch all projects")
    s_watch.add_argument("--events", required=True, help="event feed root dir")

    args = ap.parse_args(argv)

    if args.cmd == "service":
        from claude_code_memory_spark.service import IndexingService
        from claude_code_memory_spark.session import get_spark

        spark = get_spark("ccms-service")
        spark.sparkContext.setLogLevel("ERROR")
        svc = IndexingService(spark)
        if args.svc_cmd == "add":
            ok = svc.add_project(args.project, args.collection)
            print("added" if ok else "already registered")
        elif args.svc_cmd == "remove":
            ok = svc.remove_project(args.project)
            print("removed" if ok else "not registered")
        elif args.svc_cmd == "status":
            for row in svc.status():
                print(row)
        elif args.svc_cmd == "run":
            for path, counters in svc.run_once().items():
                print(path, counters)
        elif args.svc_cmd == "watch":
            qs = svc.watch_all(args.events)
            print(f"watching {len(qs)} projects; Ctrl-C to stop")
            try:
                for q in qs:
                    q.awaitTermination()
            except KeyboardInterrupt:
                for q in qs:
                    q.stop()
        return 0

    if args.cmd == "report":
        from claude_code_memory_spark.session import get_spark
        from claude_code_memory_spark.sources.html_report import generate_report
        from claude_code_memory_spark.sources.summarizer import env_transport

        spark = get_spark("ccms-report")
        spark.sparkContext.setLogLevel("ERROR")
        html = generate_report(
            spark,
            args.file,
            chat_id=args.chat_id,
            session_id=args.session_id,
            summarizer_transport=env_transport(),
            gap_seconds=int(args.gap_hours * 3600),
        )
        with open(args.output, "w", encoding="utf-8") as fh:
            fh.write(html)
        print(f"wrote {args.output} ({len(html)} bytes)")
        return 0

    eng = _engine(args.collection)

    if args.cmd == "guard":
        import json as _json
        import sys as _sys

        from claude_code_memory_spark.guard import MemoryGuard
        from claude_code_memory_spark.sources.summarizer import env_transport

        try:
            hook_data = _json.load(_sys.stdin)
        except (ValueError, OSError) as exc:
            # the guard contract is fail-open: a malformed hook payload
            # must still print a decision, never a traceback
            print(_json.dumps({"decision": "approve",
                               "reason": f"unparseable hook input: {exc}",
                               "suppressOutput": False}))
            return 0
        guard = MemoryGuard(eng, args.project, transport=env_transport())
        print(_json.dumps(guard.process_hook(hook_data)))
        return 0

    if args.cmd == "index":
        counters = eng.index(args.project, incremental=not args.full)
        print(counters)
    elif args.cmd == "search":
        types = [args.entity_type] if args.entity_type else None
        eng.search(
            args.query, mode=args.mode, k=args.k,
            entity_types=types, score_threshold=args.threshold,
            ann=args.ann,
        ).show(args.k, truncate=60)
    elif args.cmd == "graph":
        eng.read_graph(args.entity, mode="bfs2" if args.bfs else "relationships",
                       limit=args.limit).show(args.limit, truncate=60)
    elif args.cmd == "impl":
        scope = "dependencies" if args.deps else args.scope
        rows = eng.get_implementation(args.entity, scope=scope).collect()
        for r in rows:
            print(f"# {r['entity_name']} ({r['file_path']}:{r['line_number']})")
            print(r["content"])
            print()
    elif args.cmd == "memory":
        eng.add_memory(args.name, args.content, entity_type=args.entity_type)
        print(f"stored manual memory: {args.name}")
    elif args.cmd == "clear":
        eng.clear(preserve_manual=not args.all)
        print("cleared" + ("" if args.all else " (manual memories preserved)"))
    elif args.cmd == "optimize":
        eng.optimize()
        print("optimized: chunks compacted into one snapshot")
    elif args.cmd == "chat":
        print(eng.index_chat(args.file, gap_seconds=int(args.gap_hours * 3600)))
    elif args.cmd == "sql":
        eng.sql(args.query).show(args.rows, truncate=60)
    elif args.cmd == "stats":
        if args.bloat:
            eng.bloat_report().orderBy("section", "metric").show(100, truncate=60)
        elif args.validate:
            eng.validate().orderBy("rule").show(50, truncate=60)
        elif args.profile:
            eng.profile(args.profile).orderBy("column").show(100, truncate=40)
        elif args.near_dups:
            eng.near_dup_report().show(50, truncate=40)
        else:
            eng.stats().orderBy("chunk_type", "entity_type").show(100)
    elif args.cmd == "watch":
        from claude_code_memory_spark.streaming.pipeline import start_watch

        q = start_watch(eng, args.events, args.project, quiet_seconds=args.quiet_seconds)
        print(f"watching {args.project} (events from {args.events}); Ctrl-C to stop")
        try:
            q.awaitTermination()
        except KeyboardInterrupt:
            q.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
