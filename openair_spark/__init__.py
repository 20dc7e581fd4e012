"""openair_spark — a from-scratch PySpark-native spatial engine.

Capabilities mirror openAIP/openaip-openair-parser (reference at
/root/reference, studied for behavior only): OpenAIR airspace text
parsing, geometry construction (circles / arcs / airway buffers),
geometry validation & fixing, GeoJSON + OpenAIR serialization — all
re-expressed Spark-first over Common-Crawl-style page tables, plus the
spatial-join layer (cell index, point-in-polygon, kNN, raster<->vector)
and large-scale text-pipeline operators mandated by the north rule.

Layout:
    core/     pure Python+numpy kernels (run inside Arrow UDFs)
    spark/    DataFrame pipeline: extract -> parse kernel -> features
    index/    quadkey, H3 and S2 cell indexes, compact covers
    ops/      covers, PIP join, kNN, raster assignment, checkpoint manifests
    queries/  catalog queries with DuckDB oracles (relational, text ops)
"""

__version__ = "0.1.0"
