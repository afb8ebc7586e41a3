"""geoparser_spark — a from-scratch PySpark-native rebuild of the
extract-and-geotag capabilities of nasa-jpl-memex/GeoParser.

The reference (/root/reference) is a Django web app orchestrating Solr,
a Tika server and lucene-geo-gazetteer over HTTP, one document at a time
(reference: geoparser_app/views.py:357-402).  This package re-expresses
the same dataflow as a single lazy Spark plan over columnar tables:

    docs (doc_id, spans)  --extract-->  extracted spans
                          --geotag--->  locations / points
                          --serve---->  search, facets, k-means tile pyramid

Design rules (see SURVEY.md):
  * DataFrame / SQL first; Catalyst does pushdown, pruning, join choice.
  * Python only in Arrow-batched UDF stages (mapInPandas); never per row.
  * The geotag stage is one mapInArrow kernel over a compact gazetteer
    index, built once per gazetteer input, shipped with addFile and
    memory-mapped by the workers — no join against the gazetteer.
  * Salted repartition on doc_id defuses mega-document skew.
  * Per-partition lineage manifests make runs checkpoint-resumable.
"""

__version__ = "0.1.0"
