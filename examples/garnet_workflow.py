"""End-to-end petrology workflow — the reference README's garnet example
on Spark (ref ``docs/notebooks/walkthrough.ipynb``)::

    python examples/garnet_workflow.py [analyses.csv]

Loads an analysis table (defaults to the package's bundled ``minerals``
dataset, the reference's ``minerals.csv`` fixture), selects the garnets,
converts to 12-oxygen APFU with Droop Fe³⁺, allocates sites, computes
Locock end-members, and prints per-sample means — every step a lazy Spark
plan; nothing executes until the final ``show``.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from petropandas_spark import datasets, minerals  # noqa: E402
from petropandas_spark.io import read_analyses  # noqa: E402


def main() -> None:
    spark = (
        SparkSession.builder.master("local[*]")
        .appName("garnet-workflow")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if len(sys.argv) > 1:
        pf = read_analyses(spark, sys.argv[1])           # S1 + P1 clean
    else:
        pf = datasets.load_petro(spark, "minerals")      # bundled, P1 clean
    grt = pf.select_rows("Garnet", on="Mineral")         # P5 row select
    em = grt.end_members(minerals.GARNET)                # U5+V4+M3+E1
    em.df.select("Analysis_ID", "Prp", "Alm", "Sps", "Grs").show(5)

    # grouped oxide means of the raw analyses (A2)
    grt.mean(groupby="Mineral").df.show()


if __name__ == "__main__":
    main()
