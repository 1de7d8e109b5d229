"""CLI mirroring the reference's command surface (SURVEY §2.C):
sync / push / clone / create_views / prune / compact / config / version.

    python -m execute_sync_spark.cli push --execute-url file:///path/to/feed

``--execute-url file://DIR`` uses the file-based source (a directory of
``*.ndjson`` pages + ``schema.json``); http(s) URLs use the live API client.
"""

from __future__ import annotations

import argparse
import json
import logging
import sys

from execute_sync_spark import __version__
from execute_sync_spark.config import Config, resolve_config


def _build_source(cfg: Config):
    from execute_sync_spark.sources import ExecuteClient, FileFeedSource

    if cfg.execute_url.startswith("file://"):
        return FileFeedSource(cfg.execute_url[len("file://"):])
    return ExecuteClient(
        cfg.execute_url,
        cfg.execute_key_id,
        cfg.execute_key_secret,
        max_documents=cfg.max_documents,
        include_calcs=cfg.include_calcs,
    )


def _build_sink(cfg: Config, spark):
    from execute_sync_spark.sinks import JdbcSink, ParquetSink

    if cfg.database_type == "parquet":
        return ParquetSink(spark, cfg.database_dsn)
    if cfg.database_type == "duckdb":
        from execute_sync_spark.sinks import DuckDBSink

        return DuckDBSink(spark, cfg.database_dsn)
    if cfg.database_type == "sqlite":
        from execute_sync_spark.sinks import SqliteSink

        return SqliteSink(spark, cfg.database_dsn)
    if cfg.database_type == "jdbc":
        return JdbcSink(spark, cfg.database_dsn)
    raise SystemExit(
        f"unsupported DATABASE_TYPE {cfg.database_type!r} (parquet|duckdb|sqlite|jdbc)"
    )


def _load_schema(cfg: Config, source):
    from execute_sync_spark.schema.model import filter_calcs, filter_inactive, parse_root_schema

    root = parse_root_schema(source.fetch_schema())
    if cfg.hide_inactive_fields:
        root = filter_inactive(root)
    if not cfg.include_calcs:
        root = filter_calcs(root)
    return root


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="execute-sync-spark")
    p.add_argument(
        "command",
        choices=["sync", "push", "clone", "create_views", "prune", "compact", "config", "version", "gen", "upgrade"],
    )
    p.add_argument("-u", "--execute-url", dest="execute_url")
    p.add_argument("--execute-key-id", dest="execute_key_id")
    p.add_argument("--execute-key-secret", dest="execute_key_secret")
    p.add_argument("-m", "--max-documents", dest="max_documents", type=int)
    p.add_argument("--database-type", dest="database_type")
    p.add_argument("--database-dsn", dest="database_dsn")
    p.add_argument("-d", "--state-dir", dest="state_dir")
    p.add_argument("--wait", dest="wait", type=int)
    p.add_argument("-c", "--chunk-size", dest="chunk_size", type=int)
    p.add_argument("-x", "--include-calcs", dest="include_calcs", action="store_const", const=True)
    p.add_argument("--hide-inactive-fields", dest="hide_inactive_fields", action="store_const", const=True)
    p.add_argument("--force", dest="force", action="store_const", const=True)
    p.add_argument("--compat-chunking", dest="compat_chunking", action="store_const", const=True)
    p.add_argument("--max-iterations", type=int, default=None, help="bound the sync loop (tests)")
    p.add_argument("--dialect", choices=["snowflake", "databricks", "sqlserver"], default=None,
                   help="create_views: emit this warehouse dialect's DDL instead of the Spark views")
    p.add_argument("--dry-run", action="store_true",
                   help="create_views --dialect: print the DDL without executing anything")
    args = p.parse_args(argv)

    cfg = resolve_config({k: v for k, v in vars(args).items()
                          if k not in ("command", "max_iterations", "dialect", "dry_run")})
    # per-page sync records are INFO: without a handler and a level they
    # never reach stderr
    logging.basicConfig(format="%(asctime)s %(levelname)s %(name)s: %(message)s")
    logging.getLogger("execute_sync_spark").setLevel(cfg.log_level.upper())

    if args.command == "version":
        print(__version__)
        return 0
    if args.command == "gen":
        print("gen: Snowflake RSA keypair generation is warehouse-specific ops "
              "tooling; not applicable to the Spark engine (see COVERAGE.md S11)")
        return 0
    if args.command == "upgrade":
        print("upgrade: self-update is packaged-binary ops tooling; use your "
              "package manager (see COVERAGE.md S11)")
        return 0
    if args.command == "config":
        print(json.dumps(cfg.redacted(), indent=2))
        return 0
    if args.command == "create_views" and args.dialect:
        # Generated-DDL parity mode: emit the reference warehouse's bootstrap
        # + view-forest SQL as text (sinks/ddl.py) — no warehouse connection,
        # no Spark session. Currently always a dry run (no live warehouse
        # driver in this environment); --dry-run is accepted for
        # forward-compatibility and clarity.
        from execute_sync_spark.sinks import ddl

        stmts = ddl.generate(args.dialect, _load_schema(cfg, _build_source(cfg)))
        print(";\n\n".join(stmts) + ";")
        if not args.dry_run:
            # exit non-zero so scripts can't mistake the emitted DDL for
            # views actually created in the warehouse (ADVICE r5): until a
            # live warehouse driver exists, --dialect requires --dry-run
            print(f"create_views --dialect {args.dialect} requires --dry-run: "
                  "no live warehouse connection in this build, so no views "
                  "were created (DDL above is informational)", file=sys.stderr)
            return 2
        return 0

    from execute_sync_spark.session import get_spark
    from execute_sync_spark.sources import WatermarkStore, sync_loop, sync_once

    spark = get_spark("execute_sync_spark_cli")
    source = _build_source(cfg)
    sink = _build_sink(cfg, spark)
    state = WatermarkStore(cfg.state_dir)
    chunk_size = cfg.chunk_size if cfg.compat_chunking else None

    if args.command == "prune":
        removed = sink.prune()
        print(f"pruned {removed} superseded rows")
        return 0
    if args.command == "compact":
        # extension beyond the reference CLI: small-file bin-packing
        # (Delta OPTIMIZE analog) for the parquet landing sink
        if not hasattr(sink, "compact_files"):
            print("compact: only supported for the parquet landing sink")
            return 1
        removed = sink.compact_files()
        total = sum(removed.values())
        print(f"compacted {total} files across {len(removed)} partitions")
        return 0
    if args.command == "create_views":
        views = sink.create_views(_load_schema(cfg, source))
        print(f"created {len(views)} views: {', '.join(sorted(views))}")
        return 0
    if args.command == "push":
        n = sync_once(spark, source, sink, state, force=cfg.force, chunk_size=chunk_size)
        print(f"landed {n} documents")
        return 0
    if args.command == "clone":
        views = sink.create_views(_load_schema(cfg, source))
        n = sync_once(spark, source, sink, state, force=True, chunk_size=chunk_size)
        print(f"created {len(views)} views; landed {n} documents")
        return 0
    if args.command == "sync":
        sync_loop(
            spark, source, sink, state,
            wait_seconds=cfg.wait, max_iterations=args.max_iterations, chunk_size=chunk_size,
        )
        return 0
    return 1


if __name__ == "__main__":
    sys.exit(main())
