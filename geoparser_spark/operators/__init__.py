"""Operator stages of the GeoParser dataflow: extraction, geotagging,
tiles and serving analytics.  Each module maps named reference
operators (SURVEY.md §2) to Spark-native implementations; README.md
lists the modules that sit outside the dataflow."""
