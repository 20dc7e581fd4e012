"""Fixture-parity suite: run the core parser over the reference's own
fixture corpus and require bit-identical results (coordinates compared
exactly; the reference's rounding is reproduced, not approximated).

Mirrors reference tests/parser.test.ts (golden GeoJSON, exact error
messages, config-flag behaviors, round-trip OpenAIR output).
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import pytest

from openair_spark.core.config import VERSION_1, VERSION_2, ParserConfig
from openair_spark.core.openair_writer import geojson_to_openair
from openair_spark.core.parser import parse_text

FIXTURES = "/root/reference/tests/fixtures"

# Every test that reads an input or an expected result from the reference
# fixture corpus carries this mark: it runs wherever the corpus exists.
needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(FIXTURES),
    reason=f"reference fixture corpus not found at {FIXTURES}",
)

# classes used by the reference test-suite for v1 fixtures
ALLOWED_CLASSES_V1 = [
    "A", "B", "C", "D", "E", "F", "G",
    "R", "Q", "P", "GP", "WAVE", "W", "GLIDING", "RMZ", "TMZ", "CTR",
]


def read_fixture(name: str) -> str:
    with open(os.path.join(FIXTURES, name), encoding="utf-8") as fh:
        return fh.read()


def load_expected(name: str) -> dict:
    return json.loads(read_fixture(name))


def v1_config(**overrides) -> ParserConfig:
    return ParserConfig.default(VERSION_1, allowed_classes=list(ALLOWED_CLASSES_V1), **overrides)


def strip_ids(geojson: dict, drop_geometry: bool = False) -> dict:
    for feature in geojson["features"]:
        feature.pop("id", None)
        feature["properties"].pop("id", None)
        if drop_geometry:
            feature.pop("geometry", None)
    return geojson


def parse_ok(name: str, config: ParserConfig):
    result = parse_text(read_fixture(name), config)
    assert result.success, f"{name}: {result.error_message}"
    return result


GOLDEN_V1 = [
    ("inline-comments.txt", "inline-comments-result.json", {}),
    ("polygon.txt", "polygon-result.json", {}),
    ("polygon.txt", "polygon-to-linestring-result.json", {"output_geometry": "LINESTRING"}),
    ("circular.txt", "circular-result.json", {}),
    ("arc-cw.txt", "arc-cw-result.json", {}),
    ("arc-ccw.txt", "arc-ccw-result.json", {}),
    ("arc-angle-cw.txt", "arc-angle-cw-result.json", {}),
    ("arc-angle-ccw.txt", "arc-angle-ccw-result.json", {}),
    ("arc-angle-single-vx.txt", "arc-angle-single-vx-result.json", {}),
    ("arc-cw-ccw.txt", "arc-cw-ccw-result.json", {}),
    ("arc-first.txt", "arc-first-result.json", {}),
    (
        "self-intersecting.txt",
        "convert-self-intersecting-to-linestring-result.json",
        {"output_geometry": "LINESTRING"},
    ),
]


@needs_fixtures
@pytest.mark.parametrize("input_name,expected_name,overrides", GOLDEN_V1,
                         ids=[g[1].replace("-result.json", "").replace(".json", "") for g in GOLDEN_V1])
def test_golden_v1(input_name, expected_name, overrides):
    expected = load_expected(expected_name)
    result = parse_ok(input_name, v1_config(**overrides))
    assert strip_ids(result.geojson) == expected


@needs_fixtures
def test_golden_airway():
    expected = load_expected("awy-result.json")
    result = parse_ok("airway.txt", v1_config())
    assert strip_ids(result.geojson) == expected


def test_airway_multi_segment_concave_is_simple():
    """Multi-segment airway with an inside turn: the raw offset curve
    self-intersects locally; the buffer must emit a simple polygon (the
    reference's JTS noder does this; we unkink->largest). No reference
    fixture exists for multi-segment airways — this asserts the engine
    invariant (simple ring, segments covered) rather than bit parity."""
    import numpy as np

    from openair_spark.core.geo import ring_self_intersections
    from openair_spark.index.pip import points_in_ring

    text = (
        "AC P\n"
        "AN Bent airway\n"
        "AL FL090\n"
        "AH FL140\n"
        "V W=2.5\n"
        "DY 44:17:00 N 004:59:00 E\n"
        "DY 44:19:30 N 005:05:00 E\n"
        "DY 44:15:00 N 005:10:00 E\n"  # sharp concave turn
    )
    result = parse_text(text, v1_config())
    assert result.success, result.error_message
    ring = result.geojson["features"][0]["geometry"]["coordinates"][0]
    assert len(ring) >= 8
    assert not ring_self_intersections(ring)
    # segment midpoints are inside the buffered polygon
    segs = [(4.9833 + 5.0833, 44.2833 + 44.325), (5.0833 + 5.1667, 44.325 + 44.25)]
    mx = np.array([s[0] / 2 for s in segs])
    my = np.array([s[1] / 2 for s in segs])
    assert points_in_ring(mx, my, np.asarray(ring)).all()


GOLDEN_V2 = [
    ("version-2-commands.txt", "version-2-commands-result.json"),
    ("activation-times.txt", "activation-times-result.json"),
    ("activation-times-none.txt", "activation-times-none-result.json"),
]


@needs_fixtures
@pytest.mark.parametrize("input_name,expected_name", GOLDEN_V2,
                         ids=[g[0].replace(".txt", "") for g in GOLDEN_V2])
def test_golden_v2_properties(input_name, expected_name):
    # v2 golden tests compare properties only (reference tests/parser.test.ts:249-292)
    expected = load_expected(expected_name)
    for feature in expected["features"]:
        feature.pop("geometry", None)
    result = parse_ok(input_name, ParserConfig.default())
    assert strip_ids(result.geojson, drop_geometry=True) == expected


@needs_fixtures
def test_skipped_tokens():
    parse_ok("skipped-tokens.txt", v1_config())


@needs_fixtures
def test_ignored_only():
    result = parse_ok("ignored-only.txt", v1_config())
    assert result.geojson["features"] == []


@needs_fixtures
def test_fixed_self_intersecting():
    expected = load_expected("fixed-self-intersecting.json")
    result = parse_ok("self-intersecting.txt", v1_config(fix_geometry=True))
    assert strip_ids(result.geojson) == expected


@needs_fixtures
def test_fix_does_not_split_into_multipolygon():
    result = parse_ok("do-not-split-into-multipolygon.txt", v1_config(fix_geometry=True))
    assert result.geojson["features"][0]["geometry"]["type"] == "Polygon"


@needs_fixtures
def test_fix_start_end_not_equal():
    result = parse_ok("start-end-coordinates-not-equal.txt", v1_config(fix_geometry=True))
    assert result.geojson["features"][0]["geometry"]["type"] == "Polygon"


@needs_fixtures
def test_self_intersecting_passes_without_validation():
    result = parse_text(read_fixture("self-intersecting.txt"),
                        v1_config(fix_geometry=True, validate_geometry=False))
    assert result.success


ERROR_CASES = [
    ("without-ac.txt", {},
     "Error found at line 3: The first token must be of type 'AC'. Token 'AN' found on line 3."),
    ("invalid-coordinates.txt", {},
     "Error found at line 14: Error found at line 14: Unknown coordinate definition 'DP 45:49:51 N 008:42:'"),
    ("self-intersecting.txt", {},
     "Error found at line 1: Geometry of airspace 'PARC/RESERVE  PYRENNEES 1000M/SOL' starting on line 1 is invalid due to self intersection."),
    ("insufficient-coordinates.txt", {"fix_geometry": True},
     "Error found at line 1: Geometry of airspace 'CTR TOO-FEW-POINTS' starting on line 1 has insufficient number of coordinates: 3"),
    ("empty-name.txt", {},
     "Error found at line 3: Token 'AC' on line 1 does not allow subsequent token 'AH' on line 3"),
    ("ceiling-definitions-duplicate.txt", {},
     "Error found at line 4: Token 'AL' on line 3 does not allow subsequent token 'AL' on line 4"),
    ("ceiling-definitions-al-greater-ah.txt", {},
     "Error found at line 10: Lower limit must be less than upper limit"),
    ("start-end-coordinates-not-equal.txt", {},
     "Error found at line 2: Geometry of airspace 'RMZ Rochefort 119.3' starting on line 2 is invalid. First and last Position are not equivalent."),
    ("laser-beam.txt", {},
     "Error found at line 6: The polygon dimensions are too small to create a polygon."),
    ("coordinate-minutes-60.txt", {"fix_geometry": True},
     "Error found at line 6: Error found at line 6: Unknown coordinate definition 'DP 42:60:57 N 000:60:00 W'"),
    ("coordinate-seconds-60.txt", {"fix_geometry": True},
     "Error found at line 6: Error found at line 6: Unknown coordinate definition 'DP 42:00:60 N 001:00:60 W'"),
]


@needs_fixtures
@pytest.mark.parametrize("input_name,overrides,message", ERROR_CASES,
                         ids=[c[0].replace(".txt", "") for c in ERROR_CASES])
def test_error_messages_v1(input_name, overrides, message):
    result = parse_text(read_fixture(input_name), v1_config(**overrides))
    assert not result.success
    assert result.error_message == message


ERROR_CASES_V2 = [
    ("single-airspace-ag-but-missing-af.txt",
     "Error found at line 5: Token 'AG' is present but token 'AF' is missing."),
    ("transponder-code-invalid.txt",
     "Error found at line 8: Error found at line 8: Invalid transponder code string 'AX 7891'"),
    ("missing-ah-al.txt",
     "Error found at line 3: Airspace definition block is missing required tokens: AL, AH, AY"),
    ("missing-AY.txt",
     "Error found at line 1: Airspace definition block is missing required tokens: AY"),
    ("activation-times-invalid.txt",
     "Error found at line 9: Error found at line 9: Invalid activation times format 'AA 2025-01-02T14:00Z/2025-01-01T15:00Z'. Start date must be before end date."),
    ("activation-times-invalid-with-none.txt",
     "Error found at line 9: Additional activation times are not allowed with BY NOTAM activation."),
    ("activation-times-invalid-with-none-none.txt",
     "Error found at line 8: Error found at line 8: Invalid activation times format found at 'AA NONE/NONE'. At least one of the start or end must be specified or only NONE."),
    ("flight-level-missing-number.txt",
     "Error found at line 6: Error found at line 6: Unknown altitude definition 'FL'"),
]


@needs_fixtures
@pytest.mark.parametrize("input_name,message", ERROR_CASES_V2,
                         ids=[c[0].replace(".txt", "") for c in ERROR_CASES_V2])
def test_error_messages_v2(input_name, message):
    result = parse_text(read_fixture(input_name), ParserConfig.default())
    assert not result.success
    assert result.error_message == message


@needs_fixtures
def test_round_altitude_values_off():
    result = parse_ok("round-altitude-values.txt", v1_config())
    assert result.geojson["features"][0]["properties"]["lowerCeiling"]["value"] == 1607.611551


@needs_fixtures
def test_round_altitude_values_on():
    result = parse_ok("round-altitude-values.txt", v1_config(round_alt_values=True))
    assert result.geojson["features"][0]["properties"]["lowerCeiling"]["value"] == 1608


@needs_fixtures
def test_meter_altitude_default_conversion():
    result = parse_ok("meter-altitude-unit.txt", v1_config())
    props = result.geojson["features"][0]["properties"]
    assert props["upperCeiling"]["unit"] == "FL"
    assert props["lowerCeiling"]["unit"] == "FT"


@needs_fixtures
def test_limit_check_with_meter_target():
    result = parse_ok("check-limits-unit-conversion.txt", v1_config(target_alt_unit="M"))
    assert result.geojson["features"][0]["properties"]["upperCeiling"]["value"] == 10667.99965862401


@needs_fixtures
def test_warn_if_expired():
    result = parse_text(read_fixture("version-2-warn-if-expired.txt"),
                        ParserConfig.default(warn_if_expired=True),
                        now=datetime(2026, 8, 16, tzinfo=timezone.utc))
    assert result.success
    assert len(result.warnings) == 3
    assert all(w.startswith("WARN: Expired activation end date") for w in result.warnings)


@needs_fixtures
def test_openair_roundtrip():
    result = parse_ok("in-output-openair.txt", v1_config())
    # expected file hardcodes the 2026 header year (reference emits current year)
    out = geojson_to_openair(result.geojson, VERSION_1, year=2026)
    expected = read_fixture("expected-output-openair.txt").split("\n")
    def rstrip_blanks(lines):
        lines = list(lines)
        while lines and lines[-1].strip() == "":
            lines.pop()
        return lines
    assert "\n".join(rstrip_blanks(out)) == "\n".join(rstrip_blanks(expected))


@needs_fixtures
def test_circular_invalid_orphan_fixture_deterministic():
    """circular-invalid.txt is not referenced by the reference test
    suite (orphan fixture) — no golden expectation exists; pin our
    engine's deterministic behavior: parses, DB arc resolved against
    the preceding VX, ring closed."""
    result = parse_ok("circular-invalid.txt", v1_config())
    ring = result.geojson["features"][0]["geometry"]["coordinates"][0]
    assert ring[0] == ring[-1]
    assert len(ring) >= 4
    again = parse_ok("circular-invalid.txt", v1_config())
    assert again.geojson["features"][0]["geometry"] == result.geojson["features"][0]["geometry"]


def test_airway_buffer_distance_property_multi_segment():
    """Strong G4 invariant for arbitrary multi-segment polylines, in the
    projected plane: every vertex of the buffer boundary lies at exactly
    the buffer distance from the polyline (offset points and fillet
    points by construction; noded intersection points because they sit
    on two offset pieces), and points sampled at 0.85d / 1.15d from the
    polyline are inside / outside. This pins the multi-segment join
    semantics to the true buffer definition even though the reference
    ships no multi-segment fixture."""
    import math

    import numpy as np

    from openair_spark.core.buffer import _line_offset_ring
    from openair_spark.core.polygon import outer_boundary_ring
    from openair_spark.index.pip import points_in_ring

    def dist_to_polyline(px, py, pts):
        best = np.inf
        for (x0, y0), (x1, y1) in zip(pts[:-1], pts[1:]):
            dx, dy = x1 - x0, y1 - y0
            t = ((px - x0) * dx + (py - y0) * dy) / (dx * dx + dy * dy)
            t = min(1.0, max(0.0, t))
            best = min(best, math.hypot(px - (x0 + t * dx), py - (y0 + t * dy)))
        return best

    rng = np.random.default_rng(17)
    d = 10.0
    for trial in range(12):
        n_seg = int(rng.integers(2, 6))
        pts = [[0.0, 0.0]]
        ang = rng.uniform(0, 2 * math.pi)
        for _ in range(n_seg):
            ang += rng.uniform(-2.4, 2.4)  # sharp turns included
            step = rng.uniform(15.0, 80.0)
            pts.append([pts[-1][0] + step * math.cos(ang),
                        pts[-1][1] + step * math.sin(ang)])
        ring = outer_boundary_ring(_line_offset_ring(pts, d))
        arr = np.asarray(ring, dtype=np.float64)
        # 1. every boundary vertex at distance d: never beyond d, and
        # at most two fillet-chord sagittas inside it (fillet arcs are
        # discretized as 16-gon chords; noded intersections between two
        # chords dip below d by up to ~2*(1-cos(pi/32))*d)
        lo = d * (1.0 - 2.0 * (1.0 - math.cos(math.pi / 32.0)))
        for px, py in arr[:-1]:
            dd = dist_to_polyline(px, py, pts)
            assert lo - 1e-6 * d <= dd <= d * (1.0 + 1e-4), (trial, px, py, dd)
        # 2. band containment: 0.85d inside, 1.15d outside (sampled via
        # normals at segment interiors and vertices)
        for (x0, y0), (x1, y1) in zip(pts[:-1], pts[1:]):
            mx, my = (x0 + x1) / 2, (y0 + y1) / 2
            L = math.hypot(x1 - x0, y1 - y0)
            nx, ny = -(y1 - y0) / L, (x1 - x0) / L
            for sgn in (1.0, -1.0):
                inside = points_in_ring(
                    np.array([mx + sgn * nx * 0.85 * d]),
                    np.array([my + sgn * ny * 0.85 * d]), arr)
                assert inside.all(), (trial, "0.85d not inside")
                far = (mx + sgn * nx * 1.15 * d, my + sgn * ny * 1.15 * d)
                if dist_to_polyline(*far, pts) > 1.1 * d:
                    outside = ~points_in_ring(
                        np.array([far[0]]), np.array([far[1]]), arr)
                    assert outside.all(), (trial, "1.15d not outside")
