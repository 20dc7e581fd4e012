"""End-to-end parse pipeline: pages -> airspace features.

Physical design (for the 10^12-page target):

  - Extraction + classification stay JVM-side (whole-stage codegen,
    column pruning to (url, text) at the scan).
  - Parsing + geometry run in ONE Arrow-batched mapInPandas over the
    extracted per-url payload — a *narrow* map: the hot path has ZERO
    shuffles end-to-end. Per-url fail-fast semantics (the reference's
    file granularity) fall out naturally because each url's payload is
    one row.
  - Per-url documents are bounded (web pages), so batch skew is capped;
    `repartition` on input only when the upstream layout is pathological.
  - Tokenizing and block validation (token order, required tokens)
    run inside that kernel (core/tokenizer.py, core/factory.py), so
    they add no shuffle either.
"""

from __future__ import annotations

import json
from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.config import ParserConfig
from ..core.jsnum import js_json_dumps
from ..core.parser import parse_text
from .extract import extract_openair

FEATURES_SCHEMA = (
    "url string, airspace_idx int, name string, class string, type string, "
    "upper_value double, upper_unit string, upper_datum string, "
    "lower_value double, lower_unit string, lower_datum string, "
    "geometry_type string, ring array<array<double>>, "
    "feature_json string, success boolean, error string, error_line int, "
    "error_geometry_json string, error_intersections array<array<double>>, "
    "n_warnings int"
)


def _config_from_json(config_json: Optional[str]) -> ParserConfig:
    if not config_json:
        return ParserConfig.default()
    payload = json.loads(config_json)
    version = payload.pop("version", "2.0")
    return ParserConfig.default(version, **payload)


def parse_partition(batches: Iterator[pd.DataFrame], config_json: Optional[str] = None
                    ) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: one input row per url (url, openair_text) ->
    one output row per airspace feature (or one error row per failed url)."""
    config = _config_from_json(config_json)
    for pdf in batches:
        out: list[dict] = []
        for url, text in zip(pdf["url"], pdf["openair_text"]):
            result = parse_text(text, config, id_seed=url)
            if not result.success:
                # rich error payload (reference src/parser-error.ts:36-56):
                # the partial geometry as a LineString + any detected
                # self-intersection positions travel with the error row
                err = result.error
                out.append({
                    "url": url, "airspace_idx": -1, "name": None, "class": None,
                    "type": None,
                    "upper_value": None, "upper_unit": None, "upper_datum": None,
                    "lower_value": None, "lower_unit": None, "lower_datum": None,
                    "geometry_type": None, "ring": None, "feature_json": None,
                    "success": False, "error": result.error_message,
                    "error_line": err.line_number,
                    "error_geometry_json": (
                        js_json_dumps(err.geometry) if err.geometry is not None else None),
                    "error_intersections": (
                        [[float(p[0]), float(p[1])] for p in err.self_intersections]
                        if err.self_intersections else None),
                    "n_warnings": len(result.warnings),
                })
                continue
            for idx, feature in enumerate(result.geojson["features"]):
                props = feature["properties"]
                geom = feature["geometry"]
                ring = geom["coordinates"][0] if geom["type"] == "Polygon" else geom["coordinates"]
                out.append({
                    "url": url, "airspace_idx": idx,
                    "name": props["name"], "class": props["class"],
                    "type": props.get("type"),
                    "upper_value": float(props["upperCeiling"]["value"]),
                    "upper_unit": props["upperCeiling"]["unit"],
                    "upper_datum": props["upperCeiling"]["referenceDatum"],
                    "lower_value": float(props["lowerCeiling"]["value"]),
                    "lower_unit": props["lowerCeiling"]["unit"],
                    "lower_datum": props["lowerCeiling"]["referenceDatum"],
                    "geometry_type": geom["type"],
                    "ring": [[float(c[0]), float(c[1])] for c in ring],
                    "feature_json": js_json_dumps(feature),
                    "success": True, "error": None, "error_line": None,
                    "error_geometry_json": None, "error_intersections": None,
                    "n_warnings": len(result.warnings),
                })
        yield pd.DataFrame(out, columns=[c.split()[0] for c in FEATURES_SCHEMA.split(", ")])


def parse_features(pages: DataFrame, config_json: Optional[str] = None) -> DataFrame:
    """pages -> features DataFrame (zero-shuffle narrow plan)."""
    extracted = extract_openair(pages)
    return parse_extracted(extracted, config_json)


def parse_extracted(extracted: DataFrame,
                    config_json: Optional[str] = None) -> DataFrame:
    """(url, openair_text) -> features (the post-extraction half of
    parse_features, shared by the raw-file source below)."""
    def kernel(batches):
        return parse_partition(batches, config_json)
    return extracted.select("url", "openair_text").mapInPandas(kernel, FEATURES_SCHEMA)


def openair_files(spark, path: str) -> DataFrame:
    """Directory/glob of raw OpenAIR (.txt/.openair) files ->
    (url, openair_text) — the reference's OWN input shape
    (`new Parser(config).parse(filepath)`, /root/reference/src/parser.ts:
    one airspace file per call, whole file buffered). `wholetext` keeps
    each file a single row (the reference buffers whole files too;
    multi-MB files remain one task's work, matching its per-file
    granularity), and the file path becomes the url/id_seed so error
    messages and feature ids are per-file exactly like the reference."""
    from pyspark.sql import functions as F2

    return (
        spark.read.text(path, wholetext=True)
        .select(F2.input_file_name().alias("url"),
                F2.col("value").alias("openair_text"))
    )


def parse_openair_files(spark, path: str,
                        config_json: Optional[str] = None) -> DataFrame:
    """The reference's parse(filepath) at corpus scale: every file under
    `path` parses in one zero-shuffle pass; a user of the reference
    points this at the same directory of .openair files they feed the
    Node parser today."""
    return parse_extracted(openair_files(spark, path), config_json)


def feature_collections(features: DataFrame) -> DataFrame:
    """Per-url GeoJSON FeatureCollection (reference O2: featureCollection
    per input file). One hash-aggregate shuffle on url."""
    return (
        features.where(F.col("success"))
        .groupBy("url")
        .agg(F.array_sort(F.collect_list(F.struct("airspace_idx", "feature_json"))).alias("fs"))
        .select(
            "url",
            F.concat(
                F.lit('{"type":"FeatureCollection","features":['),
                F.array_join(F.transform("fs", lambda s: s["feature_json"]), ","),
                F.lit("]}"),
            ).alias("feature_collection_json"),
        )
    )


def parse_errors(features: DataFrame) -> DataFrame:
    return features.where(~F.col("success")).select(
        "url", "error", "error_line", "error_geometry_json", "error_intersections")
