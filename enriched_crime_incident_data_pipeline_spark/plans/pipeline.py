"""End-to-end pipeline plan (reference §3.1, re-expressed as one
declarative DataFrame DAG).

Reference control flow (src/pipeline/main.py:48-122): scrape → fetch →
parse → insert+EMSSTAT → ranks → geocode → weather → side_of_town →
health. Every UPDATE-in-place stage becomes a pure transformation;
Catalyst plans the whole DAG at once (broadcast dims, pushdown,
partial aggregation) instead of N round-trips to an external SQL
engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from enriched_crime_incident_data_pipeline_spark.operators.dedup import (
    dedup_by_key,
    idempotent_append,
)
from enriched_crime_incident_data_pipeline_spark.operators.derive import to_silver
from enriched_crime_incident_data_pipeline_spark.operators.emsstat import (
    dedup_and_propagate,
    propagate_emsstat,
)
from enriched_crime_incident_data_pipeline_spark.operators.ranks import (
    with_frequency_rank,
)
from enriched_crime_incident_data_pipeline_spark.enrich.geocode import (
    with_coordinates,
)
from enriched_crime_incident_data_pipeline_spark.enrich.sides import (
    with_side_of_town,
)
from enriched_crime_incident_data_pipeline_spark.enrich.weather import with_weather
from enriched_crime_incident_data_pipeline_spark.plans.events_adapter import (
    events_as_incidents_raw,
    synthetic_location_dim,
    synthetic_weather_hourly,
)
from enriched_crime_incident_data_pipeline_spark.sinks.output import gold_projection
from enriched_crime_incident_data_pipeline_spark.sources.catalog import load_table


def enrich_incidents(
    silver: DataFrame,
    location_cache: DataFrame,
    weather_hourly: DataFrame,
) -> DataFrame:
    """silver (typed, deduped) → fully-enriched incidents.

    Stage order mirrors §3.1 but is one lazy DAG:
    emsstat window-max → frequency ranks (location, nature) →
    coordinates (broadcast dim join) → side_of_town (column math) →
    weather (broadcast hourly-lookup join)."""
    return enrich_after_emsstat(
        propagate_emsstat(silver), location_cache, weather_hourly
    )


def enrich_after_emsstat(
    base: DataFrame,
    location_cache: DataFrame,
    weather_hourly: DataFrame,
) -> DataFrame:
    """Enrichment tail for inputs whose EMSSTAT is already
    propagated (e.g. by the fused ``dedup_and_propagate``): ranks →
    coordinates → side_of_town → weather. Every join here is a
    broadcast — the fact side is never re-shuffled."""
    df = with_frequency_rank(base, "location", "location_rank")
    df = with_frequency_rank(df, "nature", "incident_rank")
    df = with_coordinates(df, location_cache)
    df = with_side_of_town(df)
    df = with_weather(df, weather_hourly)
    return df


def run_pipeline(
    bronze: DataFrame,
    existing: DataFrame | None,
    location_cache: DataFrame,
    weather_hourly: DataFrame,
) -> DataFrame:
    """Full batch: bronze rows → typed → idempotent-append set →
    enriched gold projection (9 columns + keys retained upstream)."""
    silver = to_silver(bronze)
    silver = (
        dedup_by_key(silver, "incident_num")
        if existing is None
        else idempotent_append(silver, existing, "incident_num")
    )
    enriched = enrich_incidents(silver, location_cache, weather_hourly)
    return gold_projection(enriched)


def build_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full §3.1 pipeline over the fixture tables: the enriched
    incidents DataFrame (all columns, pre-projection). The flagship
    query and the CLI's ``report``/``export`` both build from here."""
    events = load_table(spark, sf_dir, "events")
    silver = to_silver(events_as_incidents_raw(events))
    # dedup + EMSSTAT fused onto one (ts, location) shuffle (duplicate
    # incident rows agree on ts/location); the result feeds both the
    # enrichment DAG and the weather work-list. Pins are
    # localCheckpoints, not persist: they cut the lineage from every
    # consumer's plan and leave no CacheManager entry behind. base is
    # LAZY — the weather cut below is its first consumer and scans
    # every partition, so its (eager) job materializes base's blocks
    # and no dedicated base job runs. wh stays EAGER: the gold job
    # references base through two subtrees (its own joins + wh's
    # lineage), and sequencing the wh job first is what guarantees
    # base materializes exactly once. In deployment the weather table
    # IS a maintained table; unpinned, its work-list aggregation
    # re-runs inside the gold job. Measured (sf0.1, median-of-3
    # end-to-end): 3.7 -> 2.5 s against a lazy persist of base.
    base = dedup_and_propagate(silver).localCheckpoint(eager=False)
    dim = synthetic_location_dim(events)
    wh = synthetic_weather_hourly(with_coordinates(base, dim)).localCheckpoint(
        eager=True
    )
    return enrich_after_emsstat(base, dim, wh)
