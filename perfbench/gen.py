"""Seeded, benchmark-owned inputs: web pages that embed OpenAIR text, and
point clouds.

Nothing here reads a fixture file or imports the engine's own corpus
builder: every payload is authored from the OpenAIR grammar below, so a
rewrite of the engine's corpus code cannot move the benchmark's inputs.
The generator only depends on `random.Random` (integer-seeded, stable
across CPython 3 releases) and numpy's PCG64 `default_rng`.

Each page carries its ground truth (`expect_features`, `expect_error`,
`payload`) next to the table the engine sees; the engine is only handed
the `PAGE_COLUMNS` columns.

Bump `GENERATOR_VERSION` whenever the output of any function here
changes; cached inputs are keyed by it.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
from datetime import datetime, timedelta, timezone

import numpy as np

GENERATOR_VERSION = 6

BEGIN = "-----BEGIN OPENAIR-----"
END = "-----END OPENAIR-----"
PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]

_WORDS = (
    "aviation notice chart sector frequency glider soaring terrain valley "
    "ridge thermal airfield runway circuit altitude pressure weather "
    "forecast briefing pilot logbook boundary restricted danger control"
).split()
_LANGS = ["en", "de", "fr", "it", "es"]
_CLASSES = ["A", "B", "C", "D", "E", "F", "G", "UNC"]
_TYPES = ["CTR", "TMA", "CTA", "ATZ", "RMZ", "TMZ", "TRA", "TSA", "P", "R", "Q"]

# every block is placed inside this lon/lat box; join points share it
REGION = (2.0, 42.0, 22.0, 56.0)  # west, south, east, north
HOT_SHARE, N_HOT = 0.2, 6  # share of points in hot spots, and their number
N_FILES = 8  # parquet files per cached dataset

# (kind, weight) of valid block shapes — every grammar path the parser has:
# DP polygons, DC circles, DA and DB arcs clockwise and counter-clockwise,
# a block that starts with an arc, and V W= + DY airways
_SHAPES = [("polygon", 40), ("circle", 16), ("da_arc", 10), ("db_arc", 10),
           ("arc_first", 8), ("cw_ccw", 6), ("airway", 10)]
# invalid blocks and the part of the parser message each must come back with
INVALID = {
    "missing_ay": "Airspace definition block is missing required tokens: AY",
    "al_above_ah": "Lower limit must be less than upper limit",
    "bad_coordinate": "Unknown coordinate definition",
    "self_intersecting": "is invalid due to self intersection",
    "fl_without_number": "Unknown altitude definition 'FL'",
}


def rng_for(*parts) -> random.Random:
    """A Random seeded from the parts, stable across processes."""
    digest = hashlib.sha256("|".join(map(str, parts)).encode()).hexdigest()
    return random.Random(int(digest[:16], 16))


def _dms(value: float, positive: str, negative: str, width: int) -> str:
    total = int(round(abs(value) * 3600.0))
    d, m, s = total // 3600, (total // 60) % 60, total % 60
    return f"{d:0{width}d}:{m:02d}:{s:02d} {positive if value >= 0 else negative}"


def coord(lat: float, lon: float) -> str:
    return f"{_dms(lat, 'N', 'S', 2)} {_dms(lon, 'E', 'W', 3)}"


def _header(rng: random.Random, name: str, ay: bool = True) -> list[str]:
    lines = [f"AC {rng.choice(_CLASSES)}"]
    if ay:
        lines.append(f"AY {rng.choice(_TYPES)}")
    lines.append(f"AN {name}")
    lines.append(rng.choice([f"AH FL{rng.randint(60, 245)}",
                             f"AH {rng.randint(50, 120) * 100}ft AMSL", "AH UNL"]))
    lines.append(rng.choice(["AL GND", f"AL {rng.randint(5, 40) * 100}ft AMSL",
                             f"AL {rng.randint(3, 15) * 100}ft AGL"]))
    return lines


def _star(rng: random.Random, lat: float, lon: float, r: float, n: int) -> list[str]:
    """n DP vertices of a star-shaped (hence simple) closed ring. Angles are
    evenly spaced with bounded jitter, so they stay sorted after rounding
    to the 1-arcsecond grid."""
    step = 2 * math.pi / n
    pts = []
    for i in range(n):
        ang = (i + rng.uniform(0.15, 0.85)) * step
        rr = r * rng.uniform(0.55, 1.0)
        pts.append(coord(lat + rr * math.sin(ang),
                         lon + rr * math.cos(ang) / math.cos(math.radians(lat))))
    return [f"DP {p}" for p in pts + pts[:1]]


def _radius_deg(rng: random.Random, size: str) -> float:
    # narrow ranges within each class keep the cover work of a seed close
    # to that of any other seed
    if size == "mega":  # FIR-sized: hits the covers' max_cells guard
        return rng.uniform(3.0, 3.3)
    if size == "large":  # TMA-sized
        return rng.uniform(0.7, 0.8)
    return rng.uniform(0.05, 0.12)  # CTR-sized


def valid_block(rng: random.Random, name: str, size: str, shape: str) -> str:
    """One grammar-valid v2 block of a _SHAPES shape that parses to exactly
    one feature."""
    west, south, east, north = REGION
    r = _radius_deg(rng, size)
    lat = rng.uniform(south + r, north - r)
    lon = rng.uniform(west + r * 1.6, east - r * 1.6)
    lines = _header(rng, name)
    if rng.random() < 0.3:  # skipped tokens the parser must step over
        lines.insert(1, rng.choice(["SP 0,1,0,0,255", "SB 255,255,255", "AT 45:00:00 N 005:00:00 E"]))
    km_lat = 1.0 / 60.0  # one nautical mile in degrees of latitude
    if shape == "polygon":
        n = rng.randint(40, 120) if size == "mega" else rng.randint(4, 14)
        lines += _star(rng, lat, lon, r, n)
    elif shape == "circle":
        lines += [f"V X={coord(lat, lon)}", f"DC {max(0.5, round(r / km_lat, 1))}"]
    elif shape == "da_arc":  # pie slice: centre, arc by radius and bearings, centre
        start = rng.randint(0, 180)
        centre = coord(lat, lon)
        lines += [f"DP {centre}", f"V D={rng.choice('+-')}", f"V X={centre}",
                  f"DA {max(0.5, round(r / km_lat, 1))},{start},{start + rng.randint(90, 180)}",
                  f"DP {centre}"]
    elif shape in ("db_arc", "arc_first"):
        a0 = rng.uniform(0, math.pi)
        a1 = a0 + rng.uniform(0.6, 2.4)
        cos_lat = math.cos(math.radians(lat))
        p0 = coord(lat + r * math.sin(a0), lon + r * math.cos(a0) / cos_lat)
        p1 = coord(lat + r * math.sin(a1), lon + r * math.cos(a1) / cos_lat)
        arc = [f"V D={'-' if shape == 'arc_first' else rng.choice('+-')}",
               f"V X={coord(lat, lon)}", f"DB {p0}, {p1}"]
        if shape == "arc_first":  # pie slice: arc first, then the centre
            lines += arc + [f"DP {coord(lat, lon)}", f"DP {p0}"]
        else:
            lines += [f"DP {p0}"] + arc + [f"DP {p0}"]
    elif shape == "cw_ccw":  # ring of a clockwise and a counter-clockwise arc
        cos_lat = math.cos(math.radians(lat))
        c2 = coord(lat, lon + 2 * r / cos_lat)
        lines += [f"V D=-", f"V X={coord(lat, lon)}",
                  f"DB {coord(lat + r, lon)}, {coord(lat - r, lon)}",
                  f"V D=+", f"V X={c2}",
                  f"DB {coord(lat - r, lon + 2 * r / cos_lat)}, {coord(lat + r, lon + 2 * r / cos_lat)}",
                  f"DP {coord(lat + r, lon)}"]
    elif shape == "airway":
        n = rng.randint(2, 4)
        d = 2 * r / n
        lines = [ln for ln in lines if not ln.startswith("AY")]
        lines.insert(1, "AY AWY")
        # the corridor is narrower than a segment is long
        seg_nm = d * 60.0 * math.cos(math.radians(lat))
        lines.append(f"V W={max(1, min(rng.choice([2, 4, 5, 8, 10]), int(seg_nm / 2)))}")
        # clear bends: nearly collinear joints make the buffer self-intersect
        for i in range(n):
            bend = (-1) ** i * rng.uniform(0.25, 0.5) * d
            lines.append(f"DY {coord(lat + bend, lon + i * d)}")
    else:
        raise ValueError(f"unknown shape {shape!r}")
    if rng.random() < 0.3:  # comment line and inline comment
        lines.insert(1, "* generated sector, see chart")
        i = next((i for i, ln in enumerate(lines) if ln.startswith(("DP ", "DY "))), None)
        if i is not None:
            lines[i] += " * boundary point"
    return "\n".join(lines)


def invalid_block(rng: random.Random, name: str, kind: str) -> str:
    """One block that the parser must reject with INVALID[kind]."""
    west, south, east, north = REGION
    lat, lon = rng.uniform(south + 1, north - 1), rng.uniform(west + 1, east - 1)
    ring = _star(rng, lat, lon, 0.2, 5)
    if kind == "missing_ay":
        return "\n".join(_header(rng, name, ay=False) + ring)
    if kind == "al_above_ah":
        lines = _header(rng, name)[:3] + ["AH FL100", "AL FL200"]
        return "\n".join(lines + ring)
    if kind == "bad_coordinate":
        return "\n".join(_header(rng, name) + ring[:2] + ["DP 45:49:51 N 008:42:"] + ring[2:])
    if kind == "self_intersecting":  # bow-tie ring
        d = 0.2
        bow = [coord(lat, lon), coord(lat + d, lon + d), coord(lat, lon + d),
               coord(lat + d, lon), coord(lat, lon)]
        return "\n".join(_header(rng, name) + [f"DP {p}" for p in bow])
    if kind == "fl_without_number":
        lines = _header(rng, name)[:3] + ["AH FL", "AL GND"]
        return "\n".join(lines + ring)
    raise ValueError(f"unknown invalid kind {kind!r}")


def _noise(rng: random.Random) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randint(20, 60))]
    return " ".join(words).capitalize() + "."


# shapes in a fixed rotation that follows the _SHAPES weights, so every
# seed parses and covers the same mix
_SHAPE_CYCLE = [name for name, weight in _SHAPES for _ in range(weight // 2)]


def make_pages(seed: int, n_pages: int, tag: str, mega_pages: int = 0,
               large_share: float = 0.1, tail: bool = True) -> list[dict]:
    """n_pages page rows plus per-page ground truth.

    The page mix is fixed by the page index, so every seed yields the same
    counts, shapes and size classes and only the content varies: 20% of
    pages carry no OpenAIR section; payload pages hold 1 section (80%), 2
    (15%) or 3 (5%) of 1-3 blocks; with `tail`, one page in 31 holds a
    long-tail section of 40 blocks (page-size skew); one page in 10 hides
    one invalid block and must come back as exactly one error row (the
    parser fails a whole page on its first error). The last `mega_pages`
    pages each hold one FIR-sized polygon or circle."""
    rows = []
    t0 = datetime(2025, 1, 1, tzinfo=timezone.utc)
    k = 0  # blocks so far: picks the shape and the size class
    for i in range(n_pages):
        rng = rng_for(GENERATOR_VERSION, seed, tag, i)
        url = f"https://example.test/{tag}/{seed}/{i:06d}"
        parts = [_noise(rng)]
        sections: list[str] = []
        n_valid = 0
        error = None
        if i >= n_pages - mega_pages:
            section = valid_block(rng, f"FIR {i}", "mega", ("polygon", "circle")[i % 2])
            n_valid = 1
            sections.append(section)
            parts += [BEGIN, section, END, _noise(rng)]
        elif i % 5 != 4:
            n_sections = 3 if i % 20 == 0 else 2 if i % 20 in (1, 2, 3) else 1
            bad_section = n_sections - 1 if i % 10 == 7 else -1
            for s in range(n_sections):
                blocks = []
                n_blocks = 40 if tail and s == 0 and i % 31 == 5 else 1 + (i + s) % 3
                for b in range(n_blocks):
                    large = int((k + 1) * large_share) > int(k * large_share)
                    blocks.append(valid_block(rng, f"SYN {i}-{s}-{b}", "large" if large else "small",
                                              _SHAPE_CYCLE[k % len(_SHAPE_CYCLE)]))
                    k += 1
                n_valid += len(blocks)
                if s == bad_section:
                    kind = sorted(INVALID)[(i // 10) % len(INVALID)]
                    blocks.insert(rng.randrange(len(blocks) + 1),
                                  invalid_block(rng, f"BAD {i}-{s}", kind))
                    error = INVALID[kind]
                section = "\n\n".join(blocks)
                sections.append(section)
                parts += [BEGIN, section, END, _noise(rng)]
        text = "\n".join(parts)
        rows.append({
            "url": url,
            "warc_ts": t0 + timedelta(seconds=97 * i),
            "html": f"<html><body><pre>{text}</pre></body></html>".encode(),
            "text": text,
            "lang": _LANGS[i % len(_LANGS)],
            "payload": "\n\n".join(sections) if sections else None,
            "expect_features": 0 if error else n_valid,
            "expect_error": error,
        })
    return rows


def make_points(seed: int, n: int) -> dict:
    """Point cloud over REGION: most points uniform, HOT_SHARE of them in
    N_HOT tight Gaussian hot spots (hot cells). Returns numpy columns."""
    west, south, east, north = REGION
    rng = np.random.default_rng([GENERATOR_VERSION, seed, 7])
    lon = rng.uniform(west, east, n)
    lat = rng.uniform(south, north, n)
    hot = rng.random(n) < HOT_SHARE
    centers = np.stack([rng.uniform(west + 1, east - 1, N_HOT),
                        rng.uniform(south + 1, north - 1, N_HOT)], axis=1)
    which = rng.integers(0, N_HOT, n)
    lon[hot] = centers[which[hot], 0] + rng.normal(0, 0.05, hot.sum())
    lat[hot] = centers[which[hot], 1] + rng.normal(0, 0.05, hot.sum())
    # integer-valued doubles: sums of them are exact in any order
    return {
        "point_id": np.arange(n, dtype=np.int64),
        "lat": lat,
        "lon": lon,
        "value": rng.integers(0, 1000, n).astype(np.float64),
    }


def cached_dataset(cache_dir: str, name: str, build) -> str:
    """Directory of N_FILES parquet files made once by build() -> a
    pyarrow.Table; row i goes to file i % N_FILES, so Spark reads the table
    as several splits. `name` must carry the seed; GENERATOR_VERSION is
    appended. The files are written to a temporary directory that is then
    renamed, so a killed run leaves no partial dataset behind."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(cache_dir, f"{name}.v{GENERATOR_VERSION}")
    if not os.path.isdir(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        table = build()
        rows = np.arange(table.num_rows)
        for f in range(N_FILES):
            pq.write_table(table.take(pa.array(rows[rows % N_FILES == f])),
                           os.path.join(tmp, f"part-{f}.parquet"))
        os.replace(tmp, path)
    return path
