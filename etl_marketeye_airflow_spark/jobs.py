"""Composed end-to-end pipelines (SURVEY.md §3.1 lifecycle, Spark-first).

The reference's five Airflow tasks materialize JSON between every stage;
here the whole ETL is ONE lazy plan: read 3 sources → project → union →
merge-groupBy → cache → fan out to stats/report/sinks.  The merged DF is
persisted once and reused by every consumer (the reference re-reads the
file per sink — SURVEY §4 'redundant recomputation').

``run_etl`` goes from raw files to results; ``summarize`` goes from a
merged catalog to results, so a consumer of the materialized catalog
(``sinks.read_json_products``) derives the same figures without
re-extracting.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .adapters import ADAPTERS, RAW_SCHEMAS
from .operators import anomaly as anomaly_ops
from .operators import stats as stats_ops
from .operators.merge import flatten_offers, merge_products, union_sources
from .sources.json_source import read_source


@dataclass
class EtlResult:
    merged: DataFrame
    offers_flat: DataFrame
    statistics: DataFrame
    brand_distribution: DataFrame
    source_counts: DataFrame
    condition_distribution: DataFrame


def extract_all(spark: SparkSession, raw_dir: str) -> DataFrame:
    """One extract per source + union, all lazy — Catalyst sees one plan.
    Sources union in ``ADAPTERS`` order; the merge's last write wins."""
    return union_sources(
        *(
            transform(read_source(spark, raw_dir, source, RAW_SCHEMAS[source]))
            for source, transform in ADAPTERS.items()
        )
    )


def summarize(merged: DataFrame) -> EtlResult:
    """Flat offers, statistics and distributions of a merged catalog."""
    offers = flatten_offers(merged)
    return EtlResult(
        merged=merged,
        offers_flat=offers,
        statistics=stats_ops.dataset_statistics(merged, offers),
        brand_distribution=stats_ops.brand_distribution(merged),
        source_counts=stats_ops.offers_per_source(offers),
        condition_distribution=stats_ops.condition_distribution(offers),
    )


def run_etl(spark: SparkSession, raw_dir: str, persist: bool = True) -> EtlResult:
    merged = merge_products(extract_all(spark, raw_dir))
    return summarize(merged.persist() if persist else merged)


def run_anomaly_analysis(
    offers_flat: DataFrame, strategy: str = "zscore", top_n: int = 10, **kwargs
) -> dict[str, DataFrame]:
    anomalies = anomaly_ops.flag_anomalies(offers_flat, strategy=strategy, **kwargs)
    return {
        "group_stats": anomaly_ops.group_market_stats(offers_flat),
        "anomalies": anomalies,
        "top_anomalies": anomaly_ops.top_anomalies(anomalies, top_n),
        "type_distribution": anomaly_ops.anomaly_type_distribution(anomalies),
    }
