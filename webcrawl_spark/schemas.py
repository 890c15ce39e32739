"""Fixed StructType schemas for all engine tables (SURVEY.md §1.5).

The input `pages` shape is mandated by BASELINE.json:input_hint.
At production scale these are Iceberg tables partitioned
``bucket(N, host)`` (pages/frontier/seen co-bucketed so the fetch join and
the dedup anti-join are storage-partitioned, shuffle-free); in-sandbox they
are plain Parquet snapshots with the same logical layout.
"""

from pyspark.sql import types as T

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),   # null = retryable fetch failure
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_key", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("host_hash", T.IntegerType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("query", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("referrer", T.StringType(), True),
        T.StructField("link_type", T.StringType(), False),  # 'link' | 'resource'
        T.StructField("is_external", T.BooleanType(), False),
        T.StructField("priority", T.IntegerType(), False),  # 0 html-ish, 1 binary
        T.StructField("seq", T.LongType(), False),           # global discovery sequence
        T.StructField("failures", T.IntegerType(), False),
        T.StructField("round", T.IntegerType(), False),      # round enqueued
        # application/x-www-form-urlencoded POST body; null = GET. Only the
        # user enqueue API sets it (Crawler.cs:1081-1101) — link extraction
        # never does. NOT part of the dedup key (MakeKey, Crawler.cs:2618-2625).
        T.StructField("post_data", T.StringType(), True),
    ]
)

SEEN = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("host_hash", T.IntegerType(), False),
        T.StructField("url_key", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("query", T.StringType(), False),
        T.StructField("first_depth", T.IntegerType(), False),
        T.StructField("first_round", T.IntegerType(), False),
    ]
)

FETCHED = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_key", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("fetch_seq", T.LongType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("link_type", T.StringType(), False),
        T.StructField("http_status", T.IntegerType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("charset", T.StringType(), True),
        T.StructField("bytes", T.LongType(), True),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("final_url", T.StringType(), True),  # redirect target; null = fetched directly
    ]
)

# fetched ∪ errors in one per-round commit (single write); status='ok' rows
# are the fetched view, others the errors view.
FETCH_LOG = T.StructType(
    FETCHED.fields
    + [
        T.StructField("status", T.StringType(), False),   # ok|http_404|retryable|retries_exhausted
        T.StructField("failures", T.IntegerType(), False),
        T.StructField("fatal", T.BooleanType(), False),
    ]
)

COUNTERS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("metric", T.StringType(), False),
        T.StructField("value", T.LongType(), False),
    ]
)
