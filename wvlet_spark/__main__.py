"""Command-line entry point: `python -m wvlet_spark ...`

The Spark-side counterpart of the reference's `wvlet` CLI
(wvlet-cli-core WvletCli: run / compile / to_wvlet, plus a REPL):

    python -m wvlet_spark run query.wv --table-dir /data/sf0.1
    python -m wvlet_spark run -q 'from nation count'
    python -m wvlet_spark compile -q 'from t select a' [--dialect duckdb]
    python -m wvlet_spark to-wvlet -q 'SELECT 1' [--sql-dialect hive]
    python -m wvlet_spark repl --table-dir /data/sf0.1

`compile` and `to-wvlet` are pure compiler calls — no SparkSession, no
JVM startup, and neither pyspark nor pandas is imported.  `run`, `repl`
and `serve` build a local session in the engine's Spark configuration
(wvlet_spark/config.py), sized from --table-dir's input and from --cpus
(default $SPARK_GRAFT_CPUS, else the CPUs this process may use).
"""

from __future__ import annotations

import argparse
import os
import sys


def _read_input(args) -> str:
    if args.query:
        return args.query
    if args.file:
        with open(args.file, encoding="utf-8") as f:
            return f.read()
    return sys.stdin.read()


def _print_result(df, limit: int) -> None:
    from wvlet_spark.printer import render_box

    if df is None:
        return
    rows = df.limit(limit + 1).collect()
    clipped = len(rows) > limit
    rows = rows[:limit]
    print(render_box(df.columns, [list(r) for r in rows], schema=df.schema))
    if clipped:
        print(f"(showing first {limit} rows)")


def cmd_run(args) -> int:
    from wvlet_spark import WvletSession
    from wvlet_spark.config import make_spark

    text = _read_input(args)
    spark = make_spark(args.table_dir, args.cpus)
    ws = WvletSession(spark, table_dir=args.table_dir,
                      file_base=args.file_base
                      or (os.path.dirname(os.path.abspath(args.file))
                          if args.file else None),
                      test_mode=not args.no_test)
    df = ws.run(text)
    _print_result(df, args.limit)
    return 0


def cmd_compile(args) -> int:
    from wvlet_spark import WvletSession

    ws = WvletSession(spark=None)
    print(ws.compile_to_sql(_read_input(args), dialect=args.dialect))
    return 0


def cmd_to_wvlet(args) -> int:
    from wvlet_spark.sql_import import sql_to_wvlet

    print(sql_to_wvlet(_read_input(args), dialect=args.sql_dialect), end="")
    return 0


def cmd_serve(args) -> int:
    from wvlet_spark import WvletSession
    from wvlet_spark.config import make_spark
    from wvlet_spark.server import serve

    spark = make_spark(args.table_dir, args.cpus)
    ws = WvletSession(spark, table_dir=args.table_dir, test_mode=True)
    serve(ws, host=args.host, port=args.port)
    return 0


def cmd_repl(args) -> int:
    from wvlet_spark import WvletSession
    from wvlet_spark.config import make_spark
    from wvlet_spark.generator import CompileError
    from wvlet_spark.lexer import WvletSyntaxError

    spark = make_spark(args.table_dir, args.cpus)
    ws = WvletSession(spark, table_dir=args.table_dir, test_mode=True)
    print("wvlet-spark repl — blank line runs the buffer, Ctrl-D exits")
    buf: list[str] = []
    while True:
        try:
            line = input("... " if buf else "wv> ")
        except EOFError:
            print()
            return 0
        if line.strip() == "" and buf:
            text = "\n".join(buf)
            buf = []
            try:
                _print_result(ws.run(text), args.limit)
            except (WvletSyntaxError, CompileError, Exception) as ex:
                print(f"error: {ex}", file=sys.stderr)
        elif line.strip():
            buf.append(line)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="wvlet_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp, needs_spark: bool):
        sp.add_argument("file", nargs="?", help=".wv/.sql file (default stdin)")
        sp.add_argument("-q", "--query", help="inline query text")
        if needs_spark:
            sp.add_argument("--table-dir", default=os.environ.get(
                "SPARK_GRAFT_SF_DIR"), help="dir of <table>.parquet views")
            sp.add_argument("--file-base", default=None)
            sp.add_argument("--cpus", type=int, default=None)
            sp.add_argument("--limit", type=int, default=40,
                            help="max rows printed (reference default)")

    sp = sub.add_parser("run", help="execute wvlet text on Spark")
    common(sp, True)
    sp.add_argument("--no-test", action="store_true",
                    help="skip embedded `test ...` assertions")
    sp.set_defaults(fn=cmd_run)

    sp = sub.add_parser("compile", help="wvlet -> SQL text (no execution)")
    common(sp, False)
    sp.add_argument("--dialect", default="spark",
                    choices=["spark", "duckdb"])
    sp.set_defaults(fn=cmd_compile)

    sp = sub.add_parser("to-wvlet", help="SQL -> wvlet text")
    common(sp, False)
    sp.add_argument("--sql-dialect", default="duckdb",
                    choices=["duckdb", "trino", "hive"])
    sp.set_defaults(fn=cmd_to_wvlet)

    sp = sub.add_parser("serve", help="HTTP query server (FrontendApi)")
    sp.add_argument("--table-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    sp.add_argument("--cpus", type=int, default=None)
    sp.add_argument("--host", default="127.0.0.1")
    sp.add_argument("--port", type=int, default=8080)
    sp.set_defaults(fn=cmd_serve)

    sp = sub.add_parser("repl", help="interactive session")
    sp.add_argument("--table-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    sp.add_argument("--cpus", type=int, default=None)
    sp.add_argument("--limit", type=int, default=40)
    sp.set_defaults(fn=cmd_repl)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
