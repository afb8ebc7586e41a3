"""Sources & sinks: GeoNames TSV, WARC crawl files, and the
Iceberg-or-Parquet table seam for the docs/extracted/geotagged tables
(SURVEY.md §2.1)."""
