"""Declared StructTypes for every warehouse entity.

Authoritative column lists follow the reference DDL (see SURVEY.md §1.3):
- raw landing table    /root/reference/ingestion/schema_raw.sql:11-34
- ingestion_log        /root/reference/ingestion/schema_raw.sql:44-54
- quality_log          /root/reference/ingestion/schema_raw.sql:59-69
- star schema          /root/reference/warehouse/schema_star.sql:11-101

Deliberate type decisions (SURVEY.md §1.2): the raw layer lands dates,
times and prices as *strings* (schema-on-write only at the staging cleanse),
money is Decimal end-to-end for exact KPI math, Postgres TIME becomes a
regex-validated ``HH:mm:ss`` string (Spark has no TIME type), and JSONB
payloads are JSON strings queried via ``from_json``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Bronze: raw landing  (schema_raw.sql:11-34)
# --------------------------------------------------------------------------

RAW_EVENTS = T.StructType(
    [
        T.StructField("ingest_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("raw_event_id", T.StringType()),
        T.StructField("raw_payload", T.StringType()),  # JSON string (JSONB)
        T.StructField("event_name", T.StringType()),
        T.StructField("event_date", T.StringType()),   # validated in staging
        T.StructField("event_time", T.StringType()),   # validated in staging
        T.StructField("venue_name", T.StringType()),
        T.StructField("venue_city", T.StringType()),
        T.StructField("venue_country", T.StringType()),
        T.StructField("venue_lat", T.StringType()),    # cast in staging
        T.StructField("venue_lon", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("subcategory", T.StringType()),
        T.StructField("price_min", T.StringType()),    # cast in staging
        T.StructField("price_max", T.StringType()),
        T.StructField("currency", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("ingested_at", T.TimestampType()),
        T.StructField("is_processed", T.BooleanType()),
        T.StructField("process_error", T.StringType()),
    ]
)

# 16-column source-file contract (csv_ingestor.py:10-13)
CSV_EVENTS = T.StructType(
    [
        T.StructField("event_id", T.StringType()),
        T.StructField("event_name", T.StringType()),
        T.StructField("event_date", T.StringType()),
        T.StructField("event_time", T.StringType()),
        T.StructField("venue_name", T.StringType()),
        T.StructField("venue_city", T.StringType()),
        T.StructField("venue_country", T.StringType()),
        T.StructField("venue_lat", T.StringType()),
        T.StructField("venue_lon", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("subcategory", T.StringType()),
        T.StructField("price_min", T.StringType()),
        T.StructField("price_max", T.StringType()),
        T.StructField("currency", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("status", T.StringType()),
    ]
)

INGESTION_LOG = T.StructType(
    [
        T.StructField("log_id", T.LongType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("started_at", T.TimestampType()),
        T.StructField("finished_at", T.TimestampType()),
        T.StructField("records_fetched", T.IntegerType()),
        T.StructField("records_loaded", T.IntegerType()),
        T.StructField("status", T.StringType()),  # running|success|failed
        T.StructField("error_message", T.StringType()),
    ]
)

QUALITY_LOG = T.StructType(
    [
        T.StructField("check_id", T.LongType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("check_name", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("records_checked", T.IntegerType()),
        T.StructField("records_failed", T.IntegerType()),
        T.StructField("pass_rate", T.DecimalType(5, 2)),
        T.StructField("checked_at", T.TimestampType()),
        T.StructField("status", T.StringType()),  # passed|warning|failed
    ]
)

# --------------------------------------------------------------------------
# Gold: star schema  (schema_star.sql)
# --------------------------------------------------------------------------

DIM_DATE = T.StructType(
    [
        T.StructField("date_id", T.LongType()),
        T.StructField("full_date", T.DateType()),
        T.StructField("day_of_week", T.StringType()),   # trimmed weekday name
        T.StructField("day_number", T.ShortType()),     # 0=Sunday..6=Saturday
        T.StructField("week_number", T.ShortType()),
        T.StructField("month_number", T.ShortType()),
        T.StructField("month_name", T.StringType()),
        T.StructField("quarter", T.ShortType()),
        T.StructField("year", T.ShortType()),
        T.StructField("is_weekend", T.BooleanType()),
        T.StructField("is_holiday", T.BooleanType()),
    ]
)

DIM_VENUE = T.StructType(
    [
        T.StructField("venue_sk", T.LongType()),
        T.StructField("venue_nk", T.StringType()),  # md5(name||city)
        T.StructField("venue_name", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("country_code", T.StringType()),
        T.StructField("latitude", T.DecimalType(10, 7)),
        T.StructField("longitude", T.DecimalType(10, 7)),
        T.StructField("capacity", T.IntegerType()),
        # SCD2 validity is timestamp-grained (improves on the reference's
        # DATE-grained valid_from, which collapses same-day changes).
        T.StructField("valid_from", T.TimestampType()),
        T.StructField("valid_to", T.TimestampType()),
        T.StructField("is_current", T.BooleanType()),
        T.StructField("created_at", T.TimestampType()),
    ]
)

DIM_CATEGORY = T.StructType(
    [
        T.StructField("category_sk", T.LongType()),
        T.StructField("category_name", T.StringType()),
        T.StructField("subcategory", T.StringType()),
        T.StructField("segment", T.StringType()),
        T.StructField("created_at", T.TimestampType()),
    ]
)

DIM_SOURCE = T.StructType(
    [
        T.StructField("source_sk", T.LongType()),
        T.StructField("source_name", T.StringType()),
        T.StructField("source_type", T.StringType()),  # api|csv|unknown
        T.StructField("created_at", T.TimestampType()),
    ]
)

FACT_EVENTS = T.StructType(
    [
        T.StructField("event_sk", T.LongType()),
        T.StructField("event_nk", T.StringType()),  # source || '_' || raw_event_id
        T.StructField("date_id", T.LongType()),
        T.StructField("venue_sk", T.LongType()),
        T.StructField("category_sk", T.LongType()),
        T.StructField("source_sk", T.LongType()),
        T.StructField("event_name", T.StringType()),
        T.StructField("event_url", T.StringType()),
        T.StructField("event_status", T.StringType()),
        T.StructField("price_min", T.DecimalType(10, 2)),
        T.StructField("price_max", T.DecimalType(10, 2)),
        T.StructField("price_avg", T.DecimalType(10, 2)),
        T.StructField("currency", T.StringType()),
        T.StructField("price_min_eur", T.DecimalType(10, 2)),
        T.StructField("ingested_at", T.TimestampType()),
        T.StructField("loaded_at", T.TimestampType()),
        T.StructField("is_deleted", T.BooleanType()),
    ]
)

# Stored warehouse table -> its declared schema: reads pass it so the
# warehouse skips footer inference (storage.Warehouse.read). Partition
# columns (the fact table's p_bucket) are not declared; a read recovers
# them from the directory layout.
TABLES = {
    "raw_events": RAW_EVENTS,
    "ingestion_log": INGESTION_LOG,
    "quality_log": QUALITY_LOG,
    "dim_date": DIM_DATE,
    "dim_venue": DIM_VENUE,
    "dim_category": DIM_CATEGORY,
    "dim_source": DIM_SOURCE,
    "fact_events": FACT_EVENTS,
}

# --------------------------------------------------------------------------
# Semi-structured: Ticketmaster Discovery payload (api_ingestor.py:60-92).
# Only the drilled paths are declared; everything else is pruned at scan.
# --------------------------------------------------------------------------

TM_EVENT = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField(
            "dates",
            T.StructType(
                [
                    T.StructField(
                        "start",
                        T.StructType(
                            [
                                T.StructField("localDate", T.StringType()),
                                T.StructField("localTime", T.StringType()),
                            ]
                        ),
                    ),
                    T.StructField(
                        "status",
                        T.StructType([T.StructField("code", T.StringType())]),
                    ),
                ]
            ),
        ),
        T.StructField(
            "classifications",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "segment",
                            T.StructType([T.StructField("name", T.StringType())]),
                        ),
                        T.StructField(
                            "genre",
                            T.StructType([T.StructField("name", T.StringType())]),
                        ),
                    ]
                )
            ),
        ),
        T.StructField(
            "priceRanges",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("min", T.DoubleType()),
                        T.StructField("max", T.DoubleType()),
                        T.StructField("currency", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "_embedded",
            T.StructType(
                [
                    T.StructField(
                        "venues",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("name", T.StringType()),
                                    T.StructField(
                                        "city",
                                        T.StructType(
                                            [T.StructField("name", T.StringType())]
                                        ),
                                    ),
                                    T.StructField(
                                        "country",
                                        T.StructType(
                                            [
                                                T.StructField("name", T.StringType()),
                                                T.StructField(
                                                    "countryCode", T.StringType()
                                                ),
                                            ]
                                        ),
                                    ),
                                    T.StructField(
                                        "location",
                                        T.StructType(
                                            [
                                                T.StructField(
                                                    "latitude", T.StringType()
                                                ),
                                                T.StructField(
                                                    "longitude", T.StringType()
                                                ),
                                            ]
                                        ),
                                    ),
                                ]
                            )
                        ),
                    )
                ]
            ),
        ),
    ]
)
