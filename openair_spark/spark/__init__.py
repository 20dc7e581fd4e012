"""Spark-first pipeline layer.

pages (url, warc_ts, html, text, lang)
  -> extract_openair      (JVM regexp, zero-shuffle)
  -> parse_features       (Arrow-batched kernel: tokenize, validate,
                           build geometry; zero-shuffle map)
  -> spatial layer        (openair_spark.index / openair_spark.ops)
"""
