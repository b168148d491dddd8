"""Command-line entry points — the reference's service UX re-expressed:

- ``python -m makinage_spark run --config app.yaml`` ≙ ``makinage --config
  app.yaml`` (makinage/makinage.py:138-155): compile the YAML dataflow graph
  and execute every sink (batch write or checkpointed streaming query,
  per ``application.source_type``).
- ``python -m makinage_spark publish --config pub.yaml`` ≙
  ``makinage-model-publisher`` (makinage/model_publisher/model_publisher.py:
  101-111, setup.py:63): read model artifact files and produce each onto its
  configured topic.
- ``python -m makinage_spark query <name> [--sf-dir DIR] [--limit N]`` —
  run any registered query from the operator showcase against a testdata
  directory and print the result (the quickest way to drive a single
  operator end-to-end; ``query --list`` enumerates all names).

A bare ``--config`` (no subcommand) is accepted as ``run`` for CLI parity
with the reference. On a cluster, leave ``--master`` unset and use
spark-submit; locally it defaults to ``local[$SPARK_GRAFT_CPUS]``.
"""

from __future__ import annotations

import argparse
import sys

from makinage_spark.session import get_spark


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="makinage_spark")
    sub = p.add_subparsers(dest="command")
    for name, help_ in (
        ("run", "compile and execute a YAML dataflow graph"),
        ("publish", "publish model artifact files to their topics"),
    ):
        sp = sub.add_parser(name, help=help_)
        sp.add_argument("--config", required=True, help="YAML config path")
        sp.add_argument("--master", default=None, help="Spark master override")
        sp.add_argument(
            "--no-wait",
            action="store_true",
            help="run: do not block on streaming queries",
        )
    qp = sub.add_parser("query", help="run a registered showcase query")
    qp.add_argument("name", nargs="?", help="query name (see --list)")
    qp.add_argument("--list", action="store_true", help="list query names")
    qp.add_argument(
        "--sf-dir", default="/root/testdata/sf0.01", help="testdata directory"
    )
    qp.add_argument("--limit", type=int, default=20, help="rows to show")
    qp.add_argument("--master", default=None, help="Spark master override")
    return p


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if argv and argv[0].startswith("--"):
        argv.insert(0, "run")  # reference parity: `makinage --config app.yaml`
    args = _build_parser().parse_args(argv)
    if not args.command:
        _build_parser().print_help()
        return 2

    if args.command == "query":
        from makinage_spark.queries import QUERIES

        if args.list or not args.name:
            for n in QUERIES:
                print(n)
            return 0
        if args.name not in QUERIES:
            print(f"unknown query {args.name!r}; try --list", file=sys.stderr)
            return 2
        spark = get_spark(app_name="makinage_spark_query", master=args.master)
        QUERIES[args.name](spark, args.sf_dir).show(args.limit, truncate=False)
        return 0

    spark = get_spark(app_name=f"makinage_spark_{args.command}", master=args.master)
    if args.command == "run":
        from makinage_spark.plans import run_graph

        for name, _ in run_graph(spark, args.config, await_batch=not args.no_wait):
            print(f"sink done: {name}")
        return 0

    import yaml

    from makinage_spark.model_publisher import publish_models

    with open(args.config) as f:
        config = yaml.safe_load(f)
    for topic, n in publish_models(spark, config):
        print(f"published {n} artifact(s) to {topic}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
