"""The CLI's ``--infer-schema`` load (``run_pipeline(infer_schema=True)``):
the reference-parity inference loads the same star as the explicit
schema."""

from __future__ import annotations

import logging
import shutil

from kickstarter_etl_pipeline_spark.pipeline import run_pipeline
from tests.test_transform_kickstarter import raw_rows


def test_inferred_schema_loads_the_explicit_schemas_star(spark, tmp_path):
    csv_path = str(tmp_path / "ks.csv")
    raw_rows(spark).toPandas().to_csv(csv_path, index=False)
    logger = logging.getLogger("InferSchemaTest")
    warehouse_dir = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    loads = []
    for infer in (False, True):
        spark.sql("DROP DATABASE IF EXISTS wh_infer CASCADE")
        shutil.rmtree(f"{warehouse_dir}/wh_infer.db", ignore_errors=True)
        counts = run_pipeline(spark, csv_path, db="wh_infer", infer_schema=infer, logger=logger)
        tables = {t: sorted(spark.table(f"wh_infer.{t}").collect()) for t in ("fact_campaigns", "dim_date")}
        loads.append((counts, tables))
    spark.sql("DROP DATABASE IF EXISTS wh_infer CASCADE")
    explicit, inferred = loads
    assert explicit[0] == {"dim_state": 2, "dim_category": 3, "dim_date": 2, "fact_campaigns": 3}
    assert inferred == explicit
