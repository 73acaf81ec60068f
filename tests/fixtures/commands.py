"""Run a LOAD command text in-process — TEST FIXTURE.

The CLI parses and executes through ``cli.main``; the executor tests
drive ``plans.executor.execute`` directly on the test session, with
an optional ``sql_runner`` capturing BEFORE/AFTER LOAD statements.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from pgloader_spark.parsers.loadcmd import parse_load
from pgloader_spark.plans.executor import ExecutionContext, LoadReport, execute


def run_command_text(
    spark: SparkSession, text: str, root_dir: str | None = None, sql_runner=None
) -> LoadReport:
    ctx = ExecutionContext(
        spark=spark,
        root_dir=root_dir or os.path.join("/tmp", "pgloader_spark"),
        sql_runner=sql_runner,
    )
    return execute(ctx, parse_load(text))
