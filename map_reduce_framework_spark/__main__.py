"""Drop-in CLI for reference users: run a MapReduce app over input files.

The reference's entry points are ``mrcoordinator pg-*.txt`` + N x
``mrworker wc.so`` (distributed) and ``mrsequential wc.so pg-*.txt``
(oracle) -- go-map-reduce-framework/main/mrcoordinator.go:16,
main/mrsequential.go:27-89. This CLI replaces all three with one command::

    python -m map_reduce_framework_spark wc main/pg-*.txt -o /tmp/out
    python -m map_reduce_framework_spark indexer pg-*.txt -o out --n-reduce 10

It reads each input file whole (A1), runs the app's ported
``(map_fn, reduce_fn)`` through the generic runner (A2-A8), and writes
key-sorted ``"<key> <value>"`` lines to ``mr-out-*`` files in the output
directory (A9) -- the same tree the reference's ``tests/test-mr.sh``
pipeline consumes (``sort mr-out* | grep .``), so existing downstream
scripts keep working. Scheduling, shuffle, retries, and atomic task
commit are Spark's; there is no coordinator to babysit.

Apps: wc, wc_long, indexer, crash (the nocrash payload -- deterministic
output, no fault injection; inject faults via ``spark.task.maxFailures``
chaos instead, see tests/test_fault_tolerance.py), early_exit.

Beyond the reference apps, the analytics surface is exposed too::

    python -m map_reduce_framework_spark query --list
    python -m map_reduce_framework_spark query q1_pricing_summary \
        --sf-dir /root/testdata/sf0.01 -o /tmp/q1_out --format csv

``query`` runs any of the registered queries (SURVEY.md §2 + the LLM
pipeline surface) against a testdata directory and writes the result
(csv/parquet/json), or prints it with --show.
"""

from __future__ import annotations

import argparse
import sys


APPS = ("wc", "wc_long", "indexer", "crash", "early_exit")


def _app_fns(app: str):
    from .operators import compat

    if app == "wc":
        return compat.wc_map, compat.wc_reduce
    if app == "wc_long":
        # mrapps/wc_long.go:9-22 -- whitespace tokenizer, comma-join reduce,
        # minus the 15 s straggler sleep (that's a speculation test device;
        # see experiments/speculation_makespan.py for the Spark analog).
        def wc_long_map(name: str, contents: str):
            return [(w, "1") for w in contents.split()]

        def wc_long_reduce(key: str, values: list[str]) -> str:
            return ",".join(values)

        return wc_long_map, wc_long_reduce
    if app == "indexer":
        return compat.indexer_map, compat.indexer_reduce
    if app == "crash":
        return compat.crash_payload_map, compat.crash_payload_reduce
    if app == "early_exit":
        return compat.early_exit_map, compat.early_exit_reduce
    raise SystemExit(f"unknown app {app!r}; choose from {', '.join(APPS)}")


def _query_main(argv: list[str]) -> None:
    p = argparse.ArgumentParser(
        prog="python -m map_reduce_framework_spark query",
        description="Run a registered analytics query against a sf-dir.",
    )
    p.add_argument("name", nargs="?", help="registered query name")
    p.add_argument("--list", action="store_true", help="list query names")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("-o", "--out", help="output directory")
    p.add_argument(
        "--format", default="csv", choices=("csv", "parquet", "json")
    )
    p.add_argument("--show", type=int, default=0, metavar="N",
                   help="print the first N rows instead of writing")
    p.add_argument("--cpus", default="*", help="local[...] parallelism")
    args = p.parse_args(argv)

    from . import registry

    if args.list or not args.name:
        for name in sorted(registry.REGISTRY):
            print(name)
        return
    if args.name not in registry.REGISTRY:
        raise SystemExit(
            f"unknown query {args.name!r}; run with --list to enumerate"
        )
    if not args.out and not args.show:
        raise SystemExit("pass -o/--out DIR or --show N")

    from .session import get_spark

    spark = get_spark(
        f"query-{args.name}", extra_conf={"spark.master": f"local[{args.cpus}]"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = registry.REGISTRY[args.name].fn(spark, args.sf_dir)
    if args.show:
        df.show(args.show, truncate=False)
    else:
        df.write.mode("overwrite").format(args.format).option(
            "header", "true"
        ).save(args.out)
        print(f"{args.name}: wrote {args.out} ({args.format})", file=sys.stderr)


def main(argv: list[str] | None = None) -> None:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] == "query":
        return _query_main(argv[1:])
    p = argparse.ArgumentParser(
        prog="python -m map_reduce_framework_spark",
        description="Run a MapReduce app over whole text files on Spark.",
    )
    p.add_argument("app", choices=APPS)
    p.add_argument("inputs", nargs="+", help="input text files (shell glob)")
    p.add_argument("-o", "--out", required=True, help="output directory")
    p.add_argument("--n-reduce", type=int, default=10, help="reduce partitions")
    p.add_argument("--cpus", default="*", help="local[...] parallelism")
    args = p.parse_args(argv)

    from .session import get_spark

    spark = get_spark(
        f"mr-{args.app}",
        shuffle_partitions=args.n_reduce,
        extra_conf={"spark.master": f"local[{args.cpus}]"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from .operators.compat import MapReduceJob
    from .sources.io import read_wholetext
    from .sources.mr_datasource import register

    register(spark)
    inputs = read_wholetext(spark, args.inputs)
    map_fn, reduce_fn = _app_fns(args.app)
    out = MapReduceJob(map_fn, reduce_fn, n_reduce=args.n_reduce).run(
        inputs, name_col="path", contents_col="text"
    )
    # key-sorted per reduce partition (A7), mr-out-<N> files via the
    # connector's atomic task commit (A4/A9)
    out.sortWithinPartitions("key").write.format("mrtext").mode("append").option(
        "path", args.out
    ).save()
    n = spark.read.format("mrtext").load(args.out).count()
    print(f"{args.app}: {n} output lines in {args.out}/mr-out-*", file=sys.stderr)


if __name__ == "__main__":
    main()
