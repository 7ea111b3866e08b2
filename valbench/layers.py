"""The workload suite and the public calls through which each layer is timed.

Layer -> module -> call:

* ``planner``: ``plans/planner.py`` -> ``plan_suite`` on a copy of the suite
  whose expectations carry a distinct ``meta``, so the plan cache misses;
* ``runner``: ``runner.py`` + ``registry.py`` + ``functions/`` ->
  ``SuiteRunner.validate``;
* ``streaming``: ``streaming/incremental.py`` -> ``StreamingValidator``
  called as the foreachBatch callable;
* ``segmented``: ``segmented.py`` -> ``validate_by_group(...).collect()``;
* ``checkpoint``: ``checkpoint.py`` -> ``Checkpoint.run``,
  ``Checkpoint.completed_partitions``, ``Checkpoint.merged_segment_verdicts``.
"""

from __future__ import annotations

import os

from inputs import PART, ROLE

INDEX_COLS = ["conv_id", "turn_idx"]
ROLES = ["system", "user", "assistant", "tool"]


def north_star_suite(baseline: dict, with_exist_in: bool = True):
    """The 10-expectation suite of ``bench.py::q_suite_transcripts``."""
    from great_expectations_spark import ExpectationSuite

    s = ExpectationSuite("north-star")
    s.add("expect_column_values_to_not_be_null", column="text", mostly=0.99)
    s.add("expect_column_values_to_not_be_null", column="conv_id")
    s.add("expect_compound_columns_to_be_unique", column_list=INDEX_COLS)
    s.add("expect_column_values_to_be_in_set", column="role",
          value_set=ROLES, mostly=0.98)
    s.add("expect_column_mean_to_be_between", column="turn_idx",
          min_value=0.0, max_value=500.0)
    s.add("expect_column_stdev_to_be_between", column="turn_idx",
          min_value=0.0, max_value=10_000.0)
    s.add("expect_column_quantile_values_to_be_between", column="turn_idx",
          quantile_ranges={"quantiles": [0.25, 0.5, 0.75],
                           "value_ranges": [[0, None], [0, None], [0, None]]})
    if with_exist_in:
        s.add("expect_column_values_to_exist_in", column="tool",
              other_table="tools", other_column="tool_name", mostly=0.99)
    s.add("expect_column_kl_divergence_to_be_less_than", column="__text_len",
          partition_object=baseline, threshold=0.5)
    s.add("expect_column_values_to_be_increasing", column="turn_idx",
          strictly=True, partition_by="conv_id", order_by="turn_idx")
    return s


def segment_suite(baseline: dict):
    """The north-star suite minus ``exist_in``, which segmented mode refuses."""
    return north_star_suite(baseline, with_exist_in=False)


def plan_probe(suite, n: int):
    """Plan a copy of ``suite`` that no earlier call planned; returns the
    number of passes of the plan."""
    from great_expectations_spark import ExpectationSuite
    from great_expectations_spark.plans.planner import plan_suite

    copy = ExpectationSuite(suite.name, meta=dict(suite.meta))
    for e in suite.expectations:
        copy.add(e.expectation_type, **dict(e.kwargs),
                 meta=dict(e.meta, valbench_probe=n))
    return plan_suite(copy).total_passes


def runner_for(spark):
    from great_expectations_spark import SuiteRunner
    from great_expectations_spark.schema import generate_tools_dim

    return SuiteRunner(spark, tables={"tools": generate_tools_dim(spark)},
                       unexpected_index_column_names=INDEX_COLS)


def streaming_validator(spark, suite, evr_path: str):
    from great_expectations_spark.schema import generate_tools_dim
    from great_expectations_spark.streaming.incremental import (
        StreamingValidator,
    )

    return StreamingValidator(
        suite, evr_path, run_id="valbench",
        runner_kwargs={"tables": {"tools": generate_tools_dim(spark)},
                       "unexpected_index_column_names": INDEX_COLS})


def segmented_rows(df, suite) -> list:
    from great_expectations_spark import validate_by_group

    return validate_by_group(df, suite, ROLE).collect()


def checkpoint_for(spark, root: str):
    from great_expectations_spark.checkpoint import Checkpoint

    return Checkpoint(
        spark, os.path.join(root, "manifest"),
        evr_path=os.path.join(root, "evr"),
        violations_path=os.path.join(root, "violations"),
        unexpected_index_column_names=INDEX_COLS)


def read_partitioned(spark, path: str):
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    from great_expectations_spark.schema import TRANSCRIPTS_SCHEMA

    schema = StructType(TRANSCRIPTS_SCHEMA.fields
                        + [StructField(PART, StringType())])
    return (spark.read.schema(schema).parquet(path)
            .withColumn("__text_len", F.length("text")))


def salted_hash(suite) -> str:
    from great_expectations_spark.checkpoint import (
        salted_suite_hash,
        suite_hash,
    )

    return salted_suite_hash(suite_hash(suite), ROLE)
