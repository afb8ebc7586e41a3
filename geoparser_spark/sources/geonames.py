"""GeoNames allCountries.txt reader (S7).

The reference builds a Lucene index over the ~1.2 GB / ~12M row dump
(reference: README.md:60-66, Docker/Dockerfile:46-48) and queries it
over HTTP per document.  Here the dump is read as a 19-column TSV and
projected to the gazetteer schema.  The tag stage reads it once per
dump version, in one Arrow pass that builds the compact surface index
(operators/surface_index.py), ships the index files to the workers and
memory-maps them there; tagging then runs without a join or a shuffle
(SURVEY.md §4.1 'shuffle avoidance in tag stage').  The index is keyed
by the reader's input files with their sizes and mtimes, so a new dump
builds a new index; ``job.py run`` keeps it on disk between runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# public allCountries.txt column layout
_GEONAMES_RAW = T.StructType(
    [
        T.StructField("geonameid", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("asciiname", T.StringType()),
        T.StructField("alternatenames", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("feature_class", T.StringType()),
        T.StructField("feature_code", T.StringType()),
        T.StructField("country_code", T.StringType()),
        T.StructField("cc2", T.StringType()),
        T.StructField("admin1_code", T.StringType()),
        T.StructField("admin2_code", T.StringType()),
        T.StructField("admin3_code", T.StringType()),
        T.StructField("admin4_code", T.StringType()),
        T.StructField("population", T.LongType()),
        T.StructField("elevation", T.StringType()),
        T.StructField("dem", T.StringType()),
        T.StructField("timezone", T.StringType()),
        T.StructField("modification_date", T.StringType()),
    ]
)


def read_geonames_tsv(spark: SparkSession, path: str) -> DataFrame:
    """Read an allCountries.txt-format TSV into the gazetteer schema."""
    raw = spark.read.csv(
        path, sep="\t", schema=_GEONAMES_RAW, header=False, quote="",
    )
    return raw.select(
        "geonameid", "name", "asciiname", "alternatenames",
        "latitude", "longitude", "feature_class", "feature_code",
        "country_code", "admin1_code", "admin2_code",
        F.coalesce("population", F.lit(0)).alias("population"),
        "timezone",
    )
