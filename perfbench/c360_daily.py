"""``c360_daily``: the paper's nightly Customer-360 job on its native inputs.

Extract a month of daily ``_source`` JSON viewing logs and daily
log_search parquet folders plus a keyword -> category CSV, build the
interaction and search-trend feature tables, merge them on the contract
key and load the result into a JDBC table. Embedded in-memory Derby
stands in for Azure SQL.

The output check reads the loaded table back and compares an
order-insensitive hash with a DuckDB twin of the same pipeline over the
same generated files.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from customer_360_etl_pipeline_on_azure_cloud_spark.plans.interaction import (
    interaction_features,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.plans.merge import (
    merge_feature_tables,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.plans.search import search_trends
from customer_360_etl_pipeline_on_azure_cloud_spark.schemas import (
    LOG_CONTENT_SCHEMA,
    MAPPING_SCHEMA,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.sinks import write_jdbc
from customer_360_etl_pipeline_on_azure_cloud_spark.sources.files import (
    read_csv_dim,
    read_json_daily,
    read_parquet_daily,
)

from . import inputs
from .checks import rows_hash

SIZE = {"days": 30, "rows": 2_000, "contracts": 3_000, "search_rows": 1_000}
SMALL_SIZE = {"days": 30, "rows": 300, "contracts": 200, "search_rows": 100}
GENERATE = inputs.gen_c360

DERBY_URL = "jdbc:derby:memory:perfbench;create=true"
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
TABLE = "C360_FEATURES"
COLUMNS = (
    "Contract", "Total_Truyen_hinh", "Total_Phim_truyen", "Total_The_thao",
    "Total_Giai_tri", "Total_Thieu_nhi", "TotalDevices", "MostWatch",
    "CustomerTaste", "Activeness", "CustomerType", "most_search_6",
    "most_search_7", "category_6", "category_7", "Trending_Type", "Previous",
)


class Workload:
    name = "c360_daily"

    def __init__(self, spark, tracer, path: str, stats: dict, run_dir: str):
        self.spark, self.tr, self.path = spark, tracer, path
        self.input_bytes = sum(
            stats[k]["bytes"] for k in ("log_content", "log_search", "mapping")
        )
        self.expected = None

    def iteration(self) -> dict:
        """One nightly run, input files to committed JDBC table."""
        spark, tr, p = self.spark, self.tr, self.path
        with tr.span("sources.files.read_json_daily"):
            content = read_json_daily(
                spark, os.path.join(p, "log_content"), 20220101, 20221231,
                schema=LOG_CONTENT_SCHEMA, flatten_struct="_source",
            )
        with tr.span("sources.files.read_parquet_daily"):
            search = read_parquet_daily(
                spark, os.path.join(p, "log_search"), 20220601, 20220731
            )
        with tr.span("sources.files.read_csv_dim"):
            mapping = read_csv_dim(
                spark, os.path.join(p, "mapping.csv"), key="search",
                schema=MAPPING_SCHEMA,
            )
        search = search.withColumn("month", F.month(F.to_timestamp("datetime")))
        with tr.span("plans.interaction.interaction_features"):
            feats = interaction_features(content)
        with tr.span("plans.search.search_trends"):
            trends = search_trends(search, mapping, period_a=6, period_b=7)
        trends = trends.withColumnRenamed("user_id", "Contract")
        with tr.span("plans.merge.merge_feature_tables"):
            merged = merge_feature_tables(feats, trends, on="Contract")
        with tr.span("sinks.write_jdbc"):
            write_jdbc(
                merged.select(*COLUMNS), url=DERBY_URL, table=TABLE,
                user="", password="", driver=DERBY_DRIVER,
            )
        return {}

    def read_output(self, _out: dict) -> list[tuple]:
        rows = (
            self.spark.read.format("jdbc")
            .option("url", DERBY_URL)
            .option("dbtable", TABLE)
            .option("driver", DERBY_DRIVER)
            .load()
            .select(*COLUMNS)
            .collect()
        )
        return [tuple(r) for r in rows]

    def check(self, out: dict, rows: list[tuple]) -> list[tuple[str, bool, str]]:
        """One unit: the loaded table against the DuckDB twin."""
        if self.expected is None:
            self.expected = duckdb_twin(self.path)
        got = (len(rows), rows_hash(rows))
        ok = got == self.expected
        return [("run", ok, "" if ok else f"got {got}, want {self.expected}")]

    def derived(self, out: dict, vals: dict, totals: dict) -> dict:
        """Input bytes the iteration's jobs read per on-disk input byte."""
        return {
            "sources.files.scan_amplification": totals["input_bytes"]
            / self.input_bytes
        }

    def day_seconds(self, outs: list[dict]) -> None:
        return None


def duckdb_twin(path: str) -> tuple[int, str]:
    """(rows, hash) of the pipeline's output computed by DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.sql(TWIN_SQL.format(p=path)).fetchall()
    finally:
        con.close()
    return len(rows), rows_hash(rows)


TWIN_SQL = r"""
WITH raw AS (
  SELECT _source AS s, filename FROM read_json('{p}/log_content/*.json',
    format = 'newline_delimited', filename = true,
    columns = {{'_source': 'STRUCT("Contract" VARCHAR, "Mac" VARCHAR,
                "AppName" VARCHAR, "TotalDuration" BIGINT)'}})
), lc AS (
  SELECT s."Contract" AS contract, s."Mac" AS mac, s."AppName" AS appname,
         s."TotalDuration" AS dur,
         CAST(strptime(regexp_extract(filename, '(\d{{8}})\.json$', 1),
                       '%Y%m%d') AS DATE) AS d
  FROM raw
), devices AS (
  SELECT contract, COUNT(DISTINCT mac) AS totaldevices FROM lc GROUP BY 1
), activeness AS (
  SELECT contract,
    CASE WHEN days_active BETWEEN 1 AND 7 THEN 'very low'
         WHEN days_active BETWEEN 8 AND 14 THEN 'low'
         WHEN days_active BETWEEN 15 AND 21 THEN 'moderate'
         WHEN days_active BETWEEN 22 AND 28 THEN 'high'
         WHEN days_active BETWEEN 29 AND 31 THEN 'very high'
         ELSE 'error' END AS activeness
  FROM (SELECT contract, COUNT(DISTINCT d) AS days_active FROM lc GROUP BY 1)
), catf AS (
  SELECT contract, dur, type FROM (
    SELECT contract, dur,
      CASE appname WHEN 'CHANNEL' THEN 'Truyen_hinh' WHEN 'DSHD' THEN 'Truyen_hinh'
        WHEN 'KPLUS' THEN 'Truyen_hinh' WHEN 'VOD' THEN 'Phim_truyen'
        WHEN 'FIMS' THEN 'Phim_truyen' WHEN 'SPORT' THEN 'The_thao'
        WHEN 'RELAX' THEN 'Giai_tri' WHEN 'CHILD' THEN 'Thieu_nhi'
        ELSE 'error' END AS type
    FROM lc WHERE contract <> '0'
  ) WHERE type <> 'error'
), wide AS (
  SELECT contract,
    CAST(SUM(CASE WHEN type='Truyen_hinh' THEN dur ELSE 0 END) AS BIGINT) AS t_th,
    CAST(SUM(CASE WHEN type='Phim_truyen' THEN dur ELSE 0 END) AS BIGINT) AS t_pt,
    CAST(SUM(CASE WHEN type='The_thao'    THEN dur ELSE 0 END) AS BIGINT) AS t_tt,
    CAST(SUM(CASE WHEN type='Giai_tri'    THEN dur ELSE 0 END) AS BIGINT) AS t_gt,
    CAST(SUM(CASE WHEN type='Thieu_nhi'   THEN dur ELSE 0 END) AS BIGINT) AS t_tn
  FROM catf GROUP BY 1
), wide3 AS (
  SELECT contract, t_th, t_pt, t_tt, t_gt, t_tn,
    CASE WHEN t_th = mx THEN 'Truyen_hinh' WHEN t_pt = mx THEN 'Phim_truyen'
         WHEN t_tt = mx THEN 'The_thao'    WHEN t_gt = mx THEN 'Giai_tri'
         ELSE 'Thieu_nhi' END AS mostwatch,
    concat_ws('-',
      CASE WHEN t_th <> 0 THEN 'Truyen_hinh' END,
      CASE WHEN t_pt <> 0 THEN 'Phim_truyen' END,
      CASE WHEN t_tt <> 0 THEN 'The_thao' END,
      CASE WHEN t_gt <> 0 THEN 'Giai_tri' END,
      CASE WHEN t_tn <> 0 THEN 'Thieu_nhi' END) AS customertaste
  FROM (SELECT *, greatest(t_th, t_pt, t_tt, t_gt, t_tn) AS mx FROM wide)
), feats AS (
  SELECT w.*, a.activeness, dv.totaldevices,
         (t_th + t_pt + t_tt + t_gt + t_tn) AS totaldur
  FROM wide3 w
  JOIN (SELECT * FROM activeness WHERE activeness <> 'error') a
    ON w.contract = a.contract
  JOIN devices dv ON w.contract = dv.contract
), q AS (
  SELECT quantile_cont(totaldur, [0.25, 0.5, 0.75]) AS qs FROM feats
), itable AS (
  SELECT f.contract, t_th, t_pt, t_tt, t_gt, t_tn, totaldevices, mostwatch,
         customertaste, activeness,
    CASE WHEN activeness = 'very low'  AND totaldur <  qs[1] THEN 'leaving'
         WHEN activeness = 'low'       AND totaldur <  qs[2] THEN 'need attention'
         WHEN activeness = 'moderate'  AND totaldur <  qs[2] THEN 'normal'
         WHEN activeness = 'moderate'  AND totaldur >= qs[2] THEN 'potential'
         WHEN activeness = 'high'      AND totaldur >  qs[1] THEN 'loyal'
         WHEN activeness = 'very high' AND totaldur >  qs[1] THEN 'VIP'
         ELSE 'anomaly' END AS customertype
  FROM feats f, q
), clean AS (
  SELECT * FROM (
    SELECT month(CAST(datetime AS TIMESTAMP)) AS month, user_id, keyword
    FROM read_parquet('{p}/log_search/*/*.parquet')
  ) WHERE user_id IS NOT NULL AND keyword IS NOT NULL AND month IN (6, 7)
), top AS (
  SELECT month, user_id, keyword
  FROM (SELECT month, user_id, keyword, COUNT(*) AS n FROM clean GROUP BY 1,2,3)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY month, user_id
                             ORDER BY n DESC, keyword) = 1
), pivf AS (
  SELECT * FROM (
    SELECT user_id,
      MAX(CASE WHEN month = 6 THEN trim(keyword) END) AS ms6,
      MAX(CASE WHEN month = 7 THEN trim(keyword) END) AS ms7
    FROM top GROUP BY 1
  ) WHERE ms6 IS NOT NULL AND ms7 IS NOT NULL
), mapping AS (
  SELECT search, MIN(category) AS category
  FROM read_csv('{p}/mapping.csv', header = true, all_varchar = true)
  GROUP BY 1
), s AS (
  SELECT p.user_id AS contract,
    p.ms6, p.ms7, m1.category AS c6, m2.category AS c7,
    CASE WHEN m1.category = m2.category THEN 'Unchanged'
         ELSE 'Changed' END AS trending_type,
    CASE WHEN m1.category = m2.category THEN 'Unchanged'
         ELSE concat_ws(' -> ', m1.category, m2.category) END AS previous
  FROM pivf p
  LEFT JOIN mapping m1 ON p.ms6 = m1.search
  LEFT JOIN mapping m2 ON p.ms7 = m2.search
)
SELECT i.contract, t_th, t_pt, t_tt, t_gt, t_tn, totaldevices, mostwatch,
  customertaste, activeness, customertype, ms6, ms7, c6, c7,
  trending_type, previous
FROM itable i JOIN s ON i.contract = s.contract
"""
