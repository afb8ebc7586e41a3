"""Typed schemas for every table in the pipeline.

The reference smuggles all nested data through stringified Python
literals in Solr string fields, re-parsed with eval / ast.literal_eval /
regex (reference: geoparser_app/solr.py:115,249-252, views.py:169).
Here every shape is a real nested Spark type — the single biggest
semantic upgrade of the rebuild (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- input
# Authoritative input shape per BASELINE.json `input_hint`.
SPAN_IN = T.StructType(
    [
        T.StructField("kind", T.StringType()),       # html|text|pdf_bytes|docx_bytes|rtf|image|video|table|audio
        T.StructField("text", T.StringType()),       # payload for text-bearing kinds (b64 for pdf)
        T.StructField("media_ref", T.StringType()),  # URI for media kinds, else null
        T.StructField("offset", T.IntegerType()),    # 0-based span position within the doc
    ]
)

DOCS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_IN)),
    ]
)

# ------------------------------------------------------------- extracted
# Output invariant surface: exact sequence equality on
# (kind, text, media_ref, order) per doc (BASELINE.json north_rule).
SPAN_OUT = T.StructType(
    [
        T.StructField("kind", T.StringType()),       # 'text' | media kind passthrough
        T.StructField("text", T.StringType()),       # cleaned main-content text; null for media
        T.StructField("media_ref", T.StringType()),  # preserved for media; null for text
        T.StructField("order", T.IntegerType()),     # dense 0..n-1
    ]
)

EXTRACTED = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_OUT)),
    ]
)

# -------------------------------------------------------------- gazetteer
# GeoNames allCountries.txt column layout (public dump format; the
# reference Lucene-indexes it, Docker/Dockerfile:46-48).
GAZETTEER = T.StructType(
    [
        T.StructField("geonameid", T.LongType(), False),
        T.StructField("name", T.StringType()),
        T.StructField("asciiname", T.StringType()),
        T.StructField("alternatenames", T.StringType()),  # comma-separated
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("feature_class", T.StringType()),
        T.StructField("feature_code", T.StringType()),
        T.StructField("country_code", T.StringType()),
        T.StructField("admin1_code", T.StringType()),
        T.StructField("admin2_code", T.StringType()),
        T.StructField("population", T.LongType()),
        T.StructField("timezone", T.StringType()),
    ]
)

# --------------------------------------------------------------- geotags
# Replaces the reference's stringified {name: [lat, lon]} dict
# (geoparser_app/solr.py:181-200) and regex-recovered points list
# (solr.py:249-252).
LOCATION = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("geonameid", T.LongType()),
        T.StructField("is_primary", T.BooleanType()),
        T.StructField("score", T.DoubleType()),
    ]
)

GEOTAGGED = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("locations", T.ArrayType(LOCATION)),
    ]
)

# -------------------------------------------------------------- manifest
# Per-partition lineage + metrics; replaces the reference's
# rows_processed resume counter (geoparser_app/views.py:322-326).
MANIFEST = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("status", T.StringType()),
        T.StructField("rows_in", T.LongType()),
        T.StructField("rows_out", T.LongType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("wall_ms", T.IntegerType()),  # resumable_stage writes an int literal
    ]
)

# ----------------------------------------------------------------- tiles
# Replaces the khooshe CSV tree (geoparser_app/khooshe.py:110-121).
# Each row carries its cluster's extent (the dict.csv entry,
# khooshe.py:88-94); level-0 leaves have none (NULL).
TILES = T.StructType(
    [
        T.StructField("level", T.IntegerType(), False),
        T.StructField("cluster_path", T.StringType(), False),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("label", T.LongType()),       # points under the centroid
        T.StructField("info", T.StringType()),
        T.StructField("is_leaf", T.BooleanType()),
        T.StructField("min_lat", T.DoubleType()),
        T.StructField("max_lat", T.DoubleType()),
        T.StructField("min_lon", T.DoubleType()),
        T.StructField("max_lon", T.DoubleType()),
    ]
)
