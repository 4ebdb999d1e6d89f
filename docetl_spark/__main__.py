"""CLI entry point: ``python -m docetl_spark <command>``.

Mirrors the reference CLI surface (/root/reference/docetl/cli.py: run,
build, clear_cache, version) on Spark:

- ``run PIPELINE.yaml``    — execute a pipeline config end-to-end; the
  pipeline's ``output.path`` (or ``--output``) receives the result.
- ``build PIPELINE.yaml``  — offline optimize: run the directive Pareto
  search over the config's operations and write
  ``PIPELINE_optimized.yaml`` (reference `docetl build` semantics)
  without executing.
- ``clear-cache``          — drop the persistent response cache.
- ``version``              — print package + Spark versions.

argparse only (no extra deps). Spark session settings come from
``--master`` / ``--shuffle-partitions`` or the usual spark-submit env.
"""

from __future__ import annotations

import argparse
import json
import sys


def _get_spark(args):
    from . import get_spark

    return get_spark(
        "docetl-spark-cli",
        master=getattr(args, "master", None) or "local[*]",
        shuffle_partitions=int(getattr(args, "shuffle_partitions", 0) or 0) or None,
    )


def cmd_run(args) -> int:
    import yaml

    from .backend import FakeBackend
    from .plans import run_pipeline

    with open(args.pipeline) as f:
        config = yaml.safe_load(f)
    backend = None
    if args.fake_backend:
        backend = FakeBackend()
    else:
        try:
            from .backend import LiteLLMBackend

            backend = LiteLLMBackend(model=args.model) if args.model else LiteLLMBackend()
        except Exception:
            backend = None  # deterministic-only pipelines need no backend
    spark = _get_spark(args)
    tracker = None
    if args.progress:
        # structured twin of the per-op lines: the run-summary table at
        # the end (reference console/tui final screen, plain text)
        from .progress import ProgressTracker

        tracker = ProgressTracker()
    out = run_pipeline(spark, config, backend=backend,
                       progress=bool(args.progress), tracker=tracker)
    if tracker is not None:
        from .progress import render_table

        print(render_table(tracker.snapshot()))
    path = args.output or (config.get("pipeline", {}).get("output") or {}).get("path")
    if path:
        from .sources.readers import write_output

        write_output(out.df, path)  # dispatches on extension (.json/.csv/.parquet)
        print(f"wrote {out.df.count()} rows to {path}")  # served from the result's cache
    else:
        for row in out.df.limit(args.limit).collect():
            print(json.dumps(row.asDict(recursive=True), default=str))
    return 0


def cmd_build(args) -> int:
    import yaml

    from .plans import PlanStats, lift, optimize_ops

    with open(args.pipeline) as f:
        config = yaml.safe_load(f)
    specs = lift(config.get("operations", []))
    stats_cfg = (config.get("optimize") or {}).get("stats") if isinstance(config.get("optimize"), dict) else {}
    stats = PlanStats(**(stats_cfg or {}))
    result = optimize_ops(specs, stats)
    best = result.best(args.objective)
    config["operations"] = [{"type": o.type, **o.config} for o in best.ops]
    # rewire every step to the optimized op names, in order
    names = [o.config.get("name", o.type) for o in best.ops]
    for step in config.get("pipeline", {}).get("steps", []):
        step["operations"] = names
    out_path = args.output or args.pipeline.replace(".yaml", "_optimized.yaml")
    with open(out_path, "w") as f:
        yaml.safe_dump(config, f, sort_keys=False)
    print(f"explored {result.explored} candidates; frontier {len(result.frontier)}; "
          f"best[{args.objective}] cost={best.cost:.1f} quality={best.quality:.2f}")
    print(f"wrote {out_path}")
    return 0


def cmd_clear_cache(args) -> int:
    from .resilience import clear_persistent_cache

    n = clear_persistent_cache(args.cache_dir)
    print(f"cleared {n} cached responses")
    return 0


def cmd_version(args) -> int:
    import pyspark

    from . import __version__

    print(f"docetl_spark {__version__} (pyspark {pyspark.__version__})")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="docetl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("run", help="execute a pipeline YAML")
    r.add_argument("pipeline")
    r.add_argument("--output", default=None, help="override pipeline.output.path")
    r.add_argument("--model", default=None)
    r.add_argument("--fake-backend", action="store_true", help="deterministic test backend")
    r.add_argument("--master", default=None)
    r.add_argument("--shuffle-partitions", default=None)
    r.add_argument("--limit", type=int, default=20, help="rows to print when no output path")
    r.add_argument("--progress", action="store_true",
                   help="print one line per executed op (rows out, wall)")
    r.set_defaults(fn=cmd_run)

    b = sub.add_parser("build", help="optimize a pipeline YAML offline (directive search)")
    b.add_argument("pipeline")
    b.add_argument("--output", default=None)
    b.add_argument("--objective", choices=["cost", "quality"], default="cost")
    b.set_defaults(fn=cmd_build)

    c = sub.add_parser("clear-cache", help="drop the persistent response cache")
    c.add_argument("--cache-dir", default=None)
    c.set_defaults(fn=cmd_clear_cache)

    v = sub.add_parser("version")
    v.set_defaults(fn=cmd_version)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
