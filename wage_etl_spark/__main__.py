"""spark-submit entry point.

Ship:
    python scripts/build_pyfiles.py              # -> dist/wage_etl_spark.zip
    spark-submit --py-files dist/wage_etl_spark.zip \
        $(python -c 'import wage_etl_spark, os; print(os.path.join(os.path.dirname(wage_etl_spark.__file__), "__main__.py"))') \
        --events /data/events --warehouse /lake/wh --num-buckets 4096

Or locally:
    python -m wage_etl_spark --events <parquet dir> --warehouse <dir>

Config precedence mirrors the reference's pydantic-settings layering
(/root/reference/config/settings.py:14-83, config/config.yaml:1-28):
CLI flag > environment variable (WAGE_ETL_*) > --config YAML/JSON file >
default. Logging mirrors the reference's dedicated logging config
(config/logging.py:38-84) via wage_etl_spark.logging_setup.
"""

from __future__ import annotations

import argparse
import json
import sys

from wage_etl_spark.config import load_config
from wage_etl_spark.logging_setup import setup_logging


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="wage_etl_spark", description="CDC replay into lake tables")
    p.add_argument("--config", default=None, help="YAML/JSON config file (lowest-precedence layer)")
    p.add_argument("--events", default=None, help="event-log parquet dir (with epoch column)")
    p.add_argument("--warehouse", default=None, help="lake warehouse dir")
    p.add_argument("--num-buckets", type=int, default=None)
    p.add_argument("--max-epochs", type=int, default=None, help="stop after N epochs (resume later)")
    p.add_argument("--rebucket-above-rows", type=int, default=None,
                   help="auto bucket-spec evolution: rebucket the target to 4x when a bucket passes this row count")
    p.add_argument("--dedup-strategy", choices=["auto", "shuffle", "fused"], default=None)
    p.add_argument("--keep-tombstones", action="store_const", const=True, default=None)
    p.add_argument("--master", default=None, help="override master (default: env/spark-submit)")
    p.add_argument("--log-level", default=None)
    p.add_argument("--log-file", default=None)
    p.add_argument("--synth-events", type=int, default=None, help="generate a synthetic stream of N events instead of --events")
    p.add_argument("--verify", action="store_true", help="print per-key sha256 sample of final state")
    args = p.parse_args(argv)

    cfg = load_config(
        cli_overrides={
            k: getattr(args, k)
            for k in (
                "events", "warehouse", "num_buckets", "max_epochs",
                "dedup_strategy", "keep_tombstones", "rebucket_above_rows", "master", "log_level", "log_file",
            )
        },
        config_file=args.config,
    )
    if not cfg.warehouse:
        p.error("--warehouse is required (flag, WAGE_ETL_WAREHOUSE, or config file)")
    if not cfg.events and not args.synth_events:
        p.error("one of --events / --synth-events is required")

    log = setup_logging(cfg.log_level, cfg.log_file)

    from wage_etl_spark.session import get_spark
    from wage_etl_spark.sources.events import EpochSource
    from wage_etl_spark.streaming.replay import open_tables, replay

    spark = get_spark(app_name="wage-etl-spark", master=cfg.master)
    if args.synth_events:
        from wage_etl_spark.sources.synth import synthesize_events

        src = EpochSource(synthesize_events(spark, n_events=args.synth_events))
    else:
        src = EpochSource.from_parquet(spark, cfg.events)

    rcfg = cfg.replay_config()
    log.info("replay start: %s", rcfg)
    results = replay(spark, rcfg, src)
    for r in results:
        print(json.dumps(r))

    if args.verify:
        target, dlq, manifest = open_tables(spark, rcfg)
        for row in target.read().select("repo", "path", "content_sha256").limit(5).collect():
            print(json.dumps(row.asDict()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
