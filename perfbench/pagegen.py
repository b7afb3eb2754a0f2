"""Write the seeded pages table as parquet, one file per shard.

    python3 perfbench/pagegen.py OUT_DIR N SEED SHARD N_SHARDS

Pages come from ``datagen.pages.pages_pandas`` (a pure function of seed
and page id), so the table equals ``pages.write_pages(spark, N, ...,
seed=SEED)``.  The benchmark runs one process per shard before its
Spark session starts, so generation leaves no trace in the measured
driver, JVM or Python workers.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main(argv: list[str]) -> int:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from europe_gis_spark.datagen.pages import pages_pandas

    out, n, seed, shard, n_shards = argv[0], *map(int, argv[1:5])
    lo, hi = n * shard // n_shards, n * (shard + 1) // n_shards
    pdf = pages_pandas(np.arange(lo, hi), seed)
    # UTC-adjusted so Spark reads TIMESTAMP, as in PAGES_SCHEMA
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(out, f"part-{shard:05d}.parquet"),
        compression="zstd",
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
