"""k-anonymity / l-diversity auditing.

Training-data governance companions to the PII redaction surface
(text/clean.py): before a table with quasi-identifiers ships in a corpus,
measure re-identification risk (Sweeney 2002: a record is k-anonymous when
at least k rows share its quasi-identifier combination) and attribute-
disclosure risk (Machanavajjhala et al. 2006: an equivalence class is
l-diverse when its sensitive attribute takes at least l distinct values).

Scale shape: the audit is ONE map-side-combinable aggregation keyed by the
quasi-identifier tuple — class count and distinct-sensitive count ride the
same shuffle (count_distinct keeps the per-class value set, bounded by the
sensitive domain, as intermediate state; for an unbounded sensitive domain
swap in approx_count_distinct).

Reference gap: the reference has no privacy surface at all (nearest is
nothing — redaction/anonymization are repo-original training-data ops).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    k: int = 5,
    l: int = 2,
) -> DataFrame:
    """Per-equivalence-class audit: (quasi..., class_size, l_distinct,
    k_anonymous, l_diverse). One aggregation over the quasi tuple."""
    return df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("class_size"),
        F.count_distinct(F.col(sensitive_col)).alias("l_distinct"),
        (F.count(F.lit(1)) >= k).cast("int").alias("k_anonymous"),
        (F.count_distinct(F.col(sensitive_col)) >= l).cast("int").alias("l_diverse"),
    )
