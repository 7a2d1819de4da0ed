"""End-to-end pipeline driver (SURVEY §3.4).

The reference's five Airflow stages (``dags/ihc_api_dag.py:257-307``:
setup_database >> transform_data >> send_data_to_api >>
load_attribution_results >> create_channel_report) collapse into one
lazy DataFrame lineage inside a single SparkSession — process hops and
XCom/file handoffs disappear; node boundaries remain only at shuffles
(the J1 join, the attribution window, the report agg) and sinks.

This module is the one definition of the stage wiring and of the
runtime gates, which mirror the reference's checks (SURVEY §5):
non-empty transform (``transform.py:264-265``), sum(ihc) > 0
(``load.py:120-123``), non-empty report (``reporting.py:104-106``).
Registry queries that need the channel report or a gate call
``AttributionPipeline``.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketing_attribution_etl_framework__maef_spark import domain
from marketing_attribution_etl_framework__maef_spark.functions.dates import date_range_predicate, validate_date_range
from marketing_attribution_etl_framework__maef_spark.operators import attribution as attr
from marketing_attribution_etl_framework__maef_spark.operators import journeys as jny
from marketing_attribution_etl_framework__maef_spark.operators import loader as ldr
from marketing_attribution_etl_framework__maef_spark.operators import reporting as rpt


@dataclass
class PipelineConfig:
    model: str = "ihc"
    strict_before: bool = False       # SURVEY §2.8.1 decision: <= semantics
    lookback_days: int | None = 30    # v1 lookback, honored per §2.8.6
    report_mode: str = "corrected"    # §2.8.2 decision
    start: str | None = None          # conversion date range (DAG contract)
    end: str | None = None


class AttributionPipeline:
    """Raw tables -> journeys -> attribution -> channel report."""

    def __init__(self, spark: SparkSession, sf_dir: str, config: PipelineConfig | None = None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.cfg = config or PipelineConfig()

    # -- stage 1-2: inputs + journey construction -------------------------
    def conversions(self) -> DataFrame:
        conv = domain.conversions(self.spark, self.sf_dir)
        if self.cfg.start and self.cfg.end:
            # today= arms the 'end not in the future' guard
            # (dates.py, mirroring dags/ihc_api_dag.py:56-63)
            validate_date_range(self.cfg.start, self.cfg.end, today=dt.date.today())
            conv = conv.filter(
                date_range_predicate(F.col("conv_ts"), self.cfg.start, self.cfg.end)
            )
        return conv

    def sessions(self) -> DataFrame:
        sess = domain.session_sources(self.spark, self.sf_dir)
        if self.cfg.start and self.cfg.end:
            buffer = self.cfg.lookback_days or 0
            sess = sess.filter(
                date_range_predicate(F.col("event_ts"), self.cfg.start, self.cfg.end, buffer_days=buffer)
            )
        return sess

    def journeys(self) -> DataFrame:
        return jny.build_journeys(
            self.conversions(),
            self.sessions(),
            strict_before=self.cfg.strict_before,
            lookback_days=self.cfg.lookback_days,
        )

    # -- stage 3: attribution ---------------------------------------------
    def attribution(self) -> DataFrame:
        return attr.attribute(self.journeys(), self.cfg.model)

    # -- stage 5: reporting -----------------------------------------------
    def report(self, attribution: DataFrame) -> DataFrame:
        """The channel report over ``attribution``: the one place the
        report is wired to its session, cost and conversion inputs."""
        return rpt.channel_report(
            attribution,
            self.sessions(),
            domain.session_costs(self.spark, self.sf_dir),
            self.conversions(),
            mode=self.cfg.report_mode,
        )

    def export(self) -> DataFrame:
        return rpt.export_report(self.report(self.attribution()))

    # -- staged execution with per-stage restartability --------------------
    STAGES = ("journeys", "attribution", "report")

    def run_staged(self, warehouse: str, resume_from: str = "journeys") -> DataFrame:
        """Task-granular execution against a scratch warehouse — the
        reference's per-task retry semantics (``dags/ihc_api_dag.py:
        40-54,87``: every Airflow task re-reads its inputs from the
        SQLite handoff, so any task can be re-run alone).  Each stage
        WRITES its output as a parquet table and downstream stages
        READ the staged table, never the in-session lineage, so:

        - killing the run between stages loses only the in-flight
          stage (upstream tables survive on disk),
        - ``resume_from="attribution"`` / ``"report"`` re-runs ONLY
          that suffix over the checkpointed upstream outputs, and
        - re-running a stage is idempotent (mode("overwrite") — the
          MERGE-style exactly-once story is sources/io.py's
          merge_upsert; here the unit of retry is the whole stage,
          exactly like the reference's task).

        The three runtime gates are applied to the STAGED tables (a
        resume re-validates what it reads).
        At 100 TB this is the shape you actually run: stage tables on
        object storage, orchestrated retries at stage granularity, no
        lineage longer than one stage — pinned by
        tests/test_round6b_ops.py::test_pipeline_stage_restartability.
        """
        import os

        order = {name: i for i, name in enumerate(self.STAGES)}
        if resume_from not in order:
            raise ValueError(f"resume_from must be one of {self.STAGES}")
        start = order[resume_from]
        jpath = os.path.join(warehouse, "journeys")
        apath = os.path.join(warehouse, "attribution")
        rpath = os.path.join(warehouse, "report")

        if start <= 0:
            self.journeys().write.mode("overwrite").parquet(jpath)
        journeys = self.spark.read.parquet(jpath)
        self.check_journeys(journeys)

        if start <= 1:
            attr.attribute(journeys, self.cfg.model).write.mode("overwrite").parquet(apath)
        attribution = self.spark.read.parquet(apath)
        self.check_total_ihc(attribution)

        if start <= 2:
            rpt.export_report(self.report(attribution)).write.mode("overwrite").parquet(rpath)
        out = self.spark.read.parquet(rpath)
        self.check_report(out)
        return out

    # -- runtime gates (SURVEY §5) -----------------------------------------
    @staticmethod
    def check_journeys(journeys: DataFrame) -> None:
        """Non-empty transform (``transform.py:264-265``)."""
        if journeys.limit(1).count() == 0:
            raise ValueError("transform produced no journey entries")

    check_total_ihc = staticmethod(ldr.check_total_ihc)  # sum(ihc) > 0, load.py:120-123

    @staticmethod
    def check_report(report: DataFrame) -> None:
        """Non-empty report (``reporting.py:104-106``)."""
        if report.limit(1).count() == 0:
            raise ValueError("channel report is empty")
