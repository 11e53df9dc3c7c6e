"""Standalone reproduction of a defect in the embedding near-duplicate
operators, found while sizing the benchmark's similarity/dedup calls.

    python3 perfbench/repro_near_dup_parquet.py

``embedding_near_dup_pairs`` and ``embedding_near_dup_pairs_multipass``
fail with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND ("Could not find
embedding#N") when their input is a pandas ``createDataFrame`` that was
written to parquet and read back in the same session. The same rows fed
in other ways work. The script runs each input form through both
operators, prints one line per case, and exits 1 while the defect is
present (0 once every case passes). Files go under
``.perfbench_work/`` at the root of the checkout.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    workdir = os.path.join(ROOT, ".perfbench_work", f"repro-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = ROOT
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from pyspark.sql import functions as F

    from energy_aware_entity_resolution_spark import get_spark
    from energy_aware_entity_resolution_spark.operators.dedup import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_multipass,
    )

    spark = get_spark(
        app_name="near-dup-repro",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.local.dir": os.path.join(workdir, "local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("OFF")
    rng = np.random.default_rng(0)
    base = rng.normal(size=(100, 16))
    vecs = np.vstack([base, base + rng.normal(scale=0.01, size=base.shape)])
    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(vecs)), "embedding": [list(v) for v in vecs]}
    )

    def written(df, name):
        path = os.path.join(workdir, name)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    arrow_path = os.path.join(workdir, "pyarrow.parquet")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), arrow_path)
    range_df = spark.range(len(vecs)).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") + d) for d in range(16)]).alias("embedding"),
    )
    cases = {
        "pandas createDataFrame, in memory": lambda: spark.createDataFrame(pdf),
        "pandas createDataFrame, parquet round trip in session": lambda: written(
            spark.createDataFrame(pdf), "from_pandas"
        ),
        "spark.range table, parquet round trip in session": lambda: written(
            range_df, "from_range"
        ),
        "parquet written outside Spark (pyarrow)": lambda: spark.read.parquet(
            arrow_path
        ),
    }
    calls = {
        "embedding_near_dup_pairs": lambda v: embedding_near_dup_pairs(v, 0.9),
        "embedding_near_dup_pairs_multipass": lambda v: (
            embedding_near_dup_pairs_multipass(v, rotation_seeds=[1, 2], threshold=0.9)
        ),
    }
    failed = 0
    try:
        for case, make in cases.items():
            for call, op in calls.items():
                try:
                    n = op(make()).count()
                    print(f"ok    {call:36s} {case}: {n} pairs")
                except Exception as e:  # report every case, then decide
                    failed += 1
                    first = str(e).strip().splitlines()[0][:160]
                    print(f"FAIL  {call:36s} {case}: {first}")
    finally:
        spark.stop()
        shutil.rmtree(workdir, ignore_errors=True)
    print("defect present" if failed else "defect not reproduced")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
