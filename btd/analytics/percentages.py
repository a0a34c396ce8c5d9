"""Blank-subject / blank-object / no-context counters (reference problem 7).

problems/Percentages.java:29-90 runs one job with a combiner over three
counter keys; here it is a single-pass conditional aggregation — Spark's
partial aggregation IS the combiner. Percent division happens outside
the engine in the reference (report/report.md:348); we emit raw counts
plus the total so callers can divide.

Bug compatibility (SURVEY.md §7.4): the reference's ``hasBlankObject``
tests the SUBJECT (RDFStatement.java:40-42) and the published
blank-object count inherits the bug (report/report.md:594-599).
``compat='reference'`` reproduces it; the default ``'correct'`` computes the
correct test, and any other value raises ``ValueError``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def percentages(triples: DataFrame, compat: str = "correct") -> DataFrame:
    """One row: blank_subject / blank_object / no_context / total counts."""
    if compat not in ("correct", "reference"):
        raise ValueError(f"unknown compat: {compat!r}")
    blank_obj_col = "subject" if compat == "reference" else "object"
    one = F.lit(1)
    zero = F.lit(0)
    return triples.agg(
        F.sum(F.when(F.col("subject").startswith("_"), one).otherwise(zero)).alias(
            "blank_subject"
        ),
        F.sum(F.when(F.col(blank_obj_col).startswith("_"), one).otherwise(zero)).alias(
            "blank_object"
        ),
        F.sum(F.when(F.col("context") == "", one).otherwise(zero)).alias("no_context"),
        F.count(one).alias("total"),
    )
