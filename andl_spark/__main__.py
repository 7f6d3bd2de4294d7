"""Command-line runner — the reference's Andl.Main parity.

The reference ships `Andl [<input path> [<database path>]]` with
catalog switches (Andl/Main.cs:39-50: /c use catalog, /cn new, /cu
update, /i interactive). Spark-first equivalent:

    python -m andl_spark script.andl                 # run a script
    python -m andl_spark script.andl ./mycatalog     # with a persistent
                                                     # catalog directory
    python -m andl_spark -u script.andl ./mycatalog  # persist catalog
                                                     # updates (/cu)
    python -m andl_spark -i                          # interactive REPL
    python -m andl_spark                             # runs ./test.andl if
                                                     # present (Main.cs:32)

Script output (write/expression displays) prints to stdout; test_true
failures set a non-zero exit code, mirroring the reference's suite
runner behavior.

The session is :func:`andl_spark.session.get_spark`'s, the same one
the server and the tests run on: ``SPARK_GRAFT_CPUS`` sets the local
core count (every core when unset) and ``SPARK_MASTER`` the master.
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m andl_spark",
        description="Run Andl scripts on Spark (Andl.Main parity).",
    )
    ap.add_argument("script", nargs="?", help=".andl script to run")
    ap.add_argument("catalog", nargs="?", help="persistent catalog directory")
    ap.add_argument("-u", "--update", action="store_true",
                    help="persist catalog updates (/cu)")
    ap.add_argument("-i", "--interactive", action="store_true",
                    help="interactive REPL on stdin (/i)")
    ap.add_argument("-t", "--thrift", action="store_true",
                    help="write <script>.thrift IDL for the catalog "
                         "surface after the run (Main.cs /t)")
    ap.add_argument("--db", metavar="PATH",
                    help="SQL database behind `var X(db)` — lets a script "
                         "attach a database AND a catalog directory at once "
                         "(the reference's single path serves as both, "
                         "Andl/Main.cs:41)")
    args = ap.parse_args(argv)
    if not args.script and not args.interactive:
        # Andl/Main.cs:32,108 — with no input path the reference falls
        # back to ./test.andl ("is automatically loaded and run if no
        # other file is specified", Sample/test.andl:1).
        if os.path.exists("test.andl"):
            args.script = "test.andl"
        else:
            ap.print_help()
            return 2

    from .session import get_spark

    spark = get_spark("andl")
    spark.sparkContext.setLogLevel("ERROR")

    from .lang.interp import AndlSession

    # Main.cs's second positional is "database name or path" — a
    # .sqlite/.sqandl FILE attaches as the SQL database behind
    # `var X(db)` (setup-chinook.andl workflow); a directory is the
    # persistent catalog. `--db` supplies the database explicitly so
    # both can be attached at once (the reference's single path plays
    # both roles because its catalog lives inside the database).
    catalog_path, db_path = args.catalog, args.db
    if catalog_path and os.path.isfile(catalog_path):
        if db_path:
            print(f"error: two databases given ({catalog_path} and --db)",
                  file=sys.stderr)
            return 2
        catalog_path, db_path = None, args.catalog
    sess = AndlSession(spark, catalog_path=catalog_path, db_path=db_path)
    if args.update:
        if catalog_path is None:
            print("warning: -u has no catalog directory to persist into "
                  "(pass one, e.g. `script.andl ./catdir --db data.sqlite`)",
                  file=sys.stderr)
        sess.catalog_update = True

    rc = 0
    try:
        if args.script:
            shown = len(sess.output)
            sess.run_path(args.script)
            for line in sess.output[shown:]:
                print(line)
            if sess.failures:
                print(f"FAILED test lines: {sess.failures}", file=sys.stderr)
                rc = 1
            if args.thrift:
                from .lang.idl import thrift_idl

                base = os.path.splitext(os.path.basename(args.script))[0]
                out = os.path.splitext(args.script)[0] + ".thrift"
                try:
                    with open(out, "w") as fh:
                        fh.write(thrift_idl(sess, base))
                    print(f"*** Writing: {out}", file=sys.stderr)
                except OSError:  # read-only script dir — fall back to cwd
                    out = base + ".thrift"
                    with open(out, "w") as fh:
                        fh.write(thrift_idl(sess, base))
                    print(f"*** Writing: {out}", file=sys.stderr)
        if args.interactive:
            print("andl> ", end="", flush=True)
            for line in sys.stdin:
                line = line.strip()
                if line in ("exit", "quit"):
                    break
                if line:
                    shown = len(sess.output)
                    try:
                        sess.run(line)
                        for out in sess.output[shown:]:
                            print(out)
                    except Exception as e:  # noqa: BLE001 — REPL surfaces errors
                        print(f"error: {e}", file=sys.stderr)
                print("andl> ", end="", flush=True)
    finally:
        spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
