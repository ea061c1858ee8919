"""CLI — the reference's main.py flags restated
(reference main.py:57-65: --setup/--load-geo/--load-data/--test/--all/
--limit-files). `--load-data` loads per file for both facts: a rerun
on the same CSVs is a no-op, and a directory with a new day appends
only that day. `--all` is `pipeline.run_all`, whose loads run as
concurrent Spark jobs.

Usage:
  python -m milan_telecom_etl__spark --all --data-dir /data \\
      --warehouse /wh [--grid grid.geojson] [--provinces prov.geojson]
  python -m milan_telecom_etl__spark --load-data --data-dir /data --warehouse /wh
  python -m milan_telecom_etl__spark --test --warehouse /wh
"""

from __future__ import annotations

import argparse
import logging
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="milan_telecom_etl__spark")
    p.add_argument("--setup", action="store_true", help="create warehouse dir + views")
    p.add_argument("--load-geo", action="store_true", help="load grid/province dims")
    p.add_argument("--load-data", action="store_true", help="load new traffic/mobility CSVs")
    p.add_argument("--test", action="store_true", help="run the flagship top-cells query")
    p.add_argument("--all", action="store_true", help="all stages (reference main.py --all)")
    p.add_argument("--limit-files", type=int, default=None)
    p.add_argument("--data-dir", default=".")
    p.add_argument("--warehouse", default="./warehouse")
    p.add_argument("--grid", default=None)
    p.add_argument("--provinces", default=None)
    p.add_argument("--top-k", type=int, default=10)
    args = p.parse_args(argv)

    logging.basicConfig(level=logging.INFO, format="%(levelname)s %(name)s: %(message)s")

    from .pipeline import (
        Warehouse,
        load_geometries,
        load_mobility,
        load_traffic,
        run_all,
        run_test_query,
    )
    from .session import get_spark

    spark = get_spark(app_name="milan-telecom-etl-cli")
    spark.sparkContext.setLogLevel("WARN")
    wh = Warehouse(spark, args.warehouse)

    reports = {}
    if args.all:
        reports = run_all(
            spark, args.warehouse, args.data_dir, args.grid, args.provinces,
            args.limit_files,
        )
    else:
        if args.setup:
            os.makedirs(args.warehouse, exist_ok=True)
        if args.load_geo:
            load_geometries(wh, args.grid, args.provinces)
        if args.load_data:
            reports = {
                "traffic": load_traffic(wh, args.data_dir, args.limit_files),
                "mobility": load_mobility(wh, args.data_dir, args.limit_files),
            }
        wh.register_views()
    if reports:
        r, rm = reports["traffic"], reports["mobility"]
        print(f"traffic: loaded={r.loaded_rows} skipped={r.skipped} "
              f"invalid_dates={r.invalid_dates} rejected_cells={r.rejected_cells}")
        print(f"mobility: loaded={rm.loaded_rows} skipped={rm.skipped}")
    if args.test or args.all:
        top = run_test_query(wh, limit=args.top_k)
        for row in top.collect():
            print(f"cell_id={row['cell_id']}\tavg_load={row['avg_load']:.4f}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
