"""Spark-side OpenAIR text lines (reference O3/S4: src/geojson-to-openair.ts
via src/parser.ts:213-219).

Arrow-batched mapInPandas over feature_json rows; the year is pinned
per call (the reference emits new Date().getFullYear() — we make it an
explicit argument so output is deterministic and cluster-reproducible).
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.config import VERSION_2
from ..core.openair_writer import geojson_to_openair

LINES_SCHEMA = "url string, airspace_idx int, n_lines int, openair_text string"


def openair_lines(features: DataFrame, version: str = VERSION_2,
                  year: int = 2026) -> DataFrame:
    """features (from pipeline.parse_features) -> per-feature OpenAIR
    text block. Narrow map, zero shuffles."""
    src = features.where(F.col("success")).select("url", "airspace_idx", "feature_json")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, idx, fj in zip(pdf["url"], pdf["airspace_idx"], pdf["feature_json"]):
                feature = json.loads(fj)
                lines = geojson_to_openair(
                    {"type": "FeatureCollection", "features": [feature]},
                    version, year=year)
                out.append({
                    "url": url, "airspace_idx": int(idx),
                    "n_lines": len(lines), "openair_text": "\n".join(lines),
                })
            yield pd.DataFrame(out, columns=["url", "airspace_idx", "n_lines", "openair_text"])

    return src.mapInPandas(kernel, LINES_SCHEMA)
