"""Deterministic synthetic Common-Crawl-style page corpus.

Builds the `pages` table mandated by the north rule's input hint
(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING):
each page's text embeds zero or more OpenAIR definition blocks verbatim
between sentinel lines, surrounded by deterministic noise paragraphs.
The per-url extraction invariant is byte-identical recovery of the
embedded OpenAIR text.

Sources of OpenAIR payloads:
  - `PAYLOADS`: one authored v1 block per grammar path (polygon, circle,
    DB/DA arcs in both directions, arc-first, airway, inline comments,
    skipped tokens), held in this module
  - generated blocks from the same grammar (seeded), for volume

Everything is seeded — no wall-clock, no randomness outside the seed.
"""

from __future__ import annotations

import hashlib
import random
from datetime import datetime, timedelta, timezone

# Bumped whenever the rows for a given (n_pages, seed) change, so caches of
# generated pages keyed by it are not reused across corpus changes.
CORPUS_VERSION = 2

BEGIN_SENTINEL = "-----BEGIN OPENAIR-----"
END_SENTINEL = "-----END OPENAIR-----"

_LANGS = ["en", "de", "fr", "it", "es"]

_NOISE_WORDS = (
    "aviation notice chart sector frequency glider soaring terrain valley "
    "ridge thermal crosscountry airfield runway circuit altitude pressure "
    "weather forecast briefing pilot logbook airspace boundary restricted "
    "danger prohibited control zone terminal area information service"
).split()

_CLASSES_V1 = ["A", "B", "C", "D", "E", "F", "G", "R", "Q", "P", "CTR", "RMZ", "TMZ", "GP", "W"]
_CLASSES_V2 = ["A", "B", "C", "D", "E", "F", "G", "UNC"]
_TYPES_V2 = ["TMA", "CTR", "CTA", "ATZ", "RMZ", "TMZ", "TRA", "TSA", "FIR", "P", "Q", "R"]


def _rng(seed: str) -> random.Random:
    return random.Random(int(hashlib.sha256(seed.encode()).hexdigest()[:16], 16))


def _noise_paragraph(rng: random.Random, sentences: int = 3) -> str:
    out = []
    for _ in range(sentences):
        n = rng.randint(6, 14)
        words = [rng.choice(_NOISE_WORDS) for _ in range(n)]
        words[0] = words[0].capitalize()
        out.append(" ".join(words) + ".")
    return " ".join(out)


def _dms_axis(value: float) -> tuple[int, int, int]:
    total = int(round(abs(value) * 3600.0))
    return total // 3600, (total // 60) % 60, total % 60


def _dms(rng: random.Random, lat: float, lon: float) -> str:
    lat_deg, lat_min, lat_sec = _dms_axis(lat)
    lon_deg, lon_min, lon_sec = _dms_axis(lon)
    return f"{lat_deg:02d}:{lat_min:02d}:{lat_sec:02d} N {lon_deg:03d}:{lon_min:02d}:{lon_sec:02d} E"


def generate_block(seed: str, version: str = "2.0") -> str:
    """One grammar-valid OpenAIR polygon/circle block (seeded).

    version 2.0 blocks carry AY (required by the v2 inventory) and only
    v2-allowed classes, so they parse under the default config."""
    rng = _rng(seed)
    lat_base = rng.uniform(35.0, 60.0)
    lon_base = rng.uniform(2.0, 25.0)
    classes = _CLASSES_V2 if version == "2.0" else _CLASSES_V1
    lines = [f"AC {rng.choice(classes)}"]
    if version == "2.0":
        lines.append(f"AY {rng.choice(_TYPES_V2)}")
    lines += [
        f"AN SYN-{seed[-12:].upper()} SECTOR {rng.randint(1, 99)}",
        # upper always above lower for the same datum (MSL floors cap at
        # 4000 ft, MSL ceilings start at 5000 ft)
        f"AH {rng.choice(['FL' + str(rng.randint(10, 66) * 5), str(rng.randint(50, 120) * 100) + 'ft AMSL', 'UNL'])}",
        f"AL {rng.choice(['GND', str(rng.randint(5, 40) * 100) + 'ft AMSL', str(rng.randint(3, 15) * 100) + 'ft AGL'])}",
    ]
    if rng.random() < 0.25:
        # circle geometry
        lines.append(f"V X={_dms(rng, lat_base, lon_base)}")
        lines.append(f"DC {rng.randint(2, 25) / 2.0}")
    else:
        # star-shaped polygon (vertices angle-sorted around the center ->
        # guaranteed simple ring), 4..9 vertices, closed
        import math

        n = rng.randint(4, 9)
        # evenly spaced angles with bounded jitter: stays strictly sorted
        # even after rounding coordinates to the 1-arcsecond grid
        step = 2 * math.pi / n
        angles = [i * step + rng.uniform(0.1, 0.9) * step for i in range(n)]
        pts = []
        for ang in angles:
            r = rng.uniform(0.2, 0.45)
            pts.append(_dms(rng, lat_base + r * math.sin(ang), lon_base + r * math.cos(ang)))
        for p in pts + [pts[0]]:
            lines.append(f"DP {p}")
    return "\n".join(lines)


# One authored v1 block per grammar path: polygon (DP), circle (DC), DB
# arcs cw and ccw, DA arcs cw and ccw, two DA arcs on one V X with the
# default direction, a cw and a ccw arc in one ring, an arc before any DP,
# an airway (V W + DY), inline comments and skipped tokens (SP/SB/AT).
# Written from the grammar; each parses under ParserConfig.default("1.0")
# to one feature.
PAYLOADS = (
    ("polygon", "\n".join([
        "AC D",
        "AN CTR LAKESIDE",
        "AH 4500ft AMSL",
        "AL GND",
        "DP 47:10:00 N 008:20:00 E",
        "DP 47:15:30 N 008:31:00 E",
        "DP 47:08:20 N 008:40:10 E",
        "DP 47:01:45 N 008:33:30 E",
        "DP 47:03:10 N 008:22:40 E",
        "DP 47:10:00 N 008:20:00 E",
    ])),
    ("circle", "\n".join([
        "AC R",
        "AN R-101 RANGE",
        "AH FL95",
        "AL GND",
        "V X=48:21:30 N 010:53:00 E",
        "DC 3.5",
    ])),
    ("arc-cw", "\n".join([
        "AC C",
        "AN TMA NORTH SECTOR CW",
        "AH FL125",
        "AL 3500ft AMSL",
        "DP 50:00:00 N 008:30:00 E",
        "V D=+",
        "V X=50:00:00 N 008:30:00 E",
        "DB 50:05:00 N 008:30:00 E, 50:00:00 N 008:37:47 E",
        "DP 50:00:00 N 008:30:00 E",
    ])),
    ("arc-ccw", "\n".join([
        "AC C",
        "AN TMA WEST SECTOR CCW",
        "AH FL115",
        "AL 2500ft AMSL",
        "DP 49:30:00 N 006:10:00 E",
        "V D=-",
        "V X=49:30:00 N 006:10:00 E",
        "DB 49:36:00 N 006:10:00 E, 49:30:00 N 006:00:45 E",
        "DP 49:30:00 N 006:10:00 E",
    ])),
    ("arc-angle-cw", "\n".join([
        "AC D",
        "AN CTR EAST APPROACH",
        "AH 5000ft AMSL",
        "AL GND",
        "DP 46:15:00 N 006:05:00 E",
        "V D=+",
        "V X=46:15:00 N 006:05:00 E",
        "DA 6,30,120",
        "DP 46:15:00 N 006:05:00 E",
    ])),
    ("arc-angle-ccw", "\n".join([
        "AC D",
        "AN CTR SOUTH APPROACH",
        "AH 4000ft AMSL",
        "AL GND",
        "DP 45:40:00 N 009:15:00 E",
        "V D=-",
        "V X=45:40:00 N 009:15:00 E",
        "DA 5.5,250,160",
        "DP 45:40:00 N 009:15:00 E",
    ])),
    ("arc-angle-single-vx", "\n".join([
        "AC E",
        "AN GSEC TWIN ARCS",
        "AH FL85",
        "AL 1500ft AGL",
        "DP 51:20:00 N 012:25:00 E",
        "V X=51:20:00 N 012:25:00 E",
        "DA 7,10,70",
        "DA 7,110,170",
        "DP 51:20:00 N 012:25:00 E",
    ])),
    ("arc-cw-ccw", "\n".join([
        "AC C",
        "AN TMA CRESCENT",
        "AH FL105",
        "AL 3000ft AMSL",
        "V D=-",
        "V X=48:50:00 N 002:20:00 E",
        "DB 48:55:00 N 002:20:00 E, 48:45:00 N 002:20:00 E",
        "V D=+",
        "V X=48:50:00 N 002:35:13 E",
        "DB 48:45:00 N 002:35:13 E, 48:55:00 N 002:35:13 E",
        "DP 48:55:00 N 002:20:00 E",
    ])),
    ("arc-first", "\n".join([
        "AC D",
        "AN CTR ARC FIRST",
        "AH 3500ft AMSL",
        "AL GND",
        "V D=-",
        "V X=52:20:00 N 004:45:00 E",
        "DB 52:24:00 N 004:45:00 E, 52:20:00 N 004:38:27 E",
        "DP 52:20:00 N 004:45:00 E",
        "DP 52:24:00 N 004:45:00 E",
    ])),
    ("airway", "\n".join([
        "AC E",
        "AN AWY LOWLAND CORRIDOR",
        "AH FL145",
        "AL FL75",
        "V W=5",
        "DY 50:40:00 N 007:10:00 E",
        "DY 50:55:00 N 007:45:00 E",
    ])),
    ("inline-comments", "\n".join([
        "* sector boundary revised, see chart",
        "AC D * class delta",
        "AN RMZ HILLTOP * radio mandatory",
        "AH 3000ft AMSL * upper limit",
        "AL GND",
        "* boundary points follow",
        "DP 47:50:00 N 011:05:00 E * north-west corner",
        "DP 47:52:00 N 011:18:00 E",
        "DP 47:43:30 N 011:21:00 E * south-east corner",
        "DP 47:41:00 N 011:08:30 E",
        "DP 47:50:00 N 011:05:00 E",
    ])),
    ("skipped-tokens", "\n".join([
        "AC Q",
        "SP 0,1,0,0,255",
        "SB 255,255,255",
        "AN Q-220 GLIDER AREA",
        "AH FL65",
        "AL 1000ft AGL",
        "AT 46:52:00 N 007:28:00 E",
        "DP 46:58:00 N 007:20:00 E",
        "DP 46:57:00 N 007:36:00 E",
        "DP 46:46:00 N 007:34:00 E",
        "DP 46:47:00 N 007:19:00 E",
        "DP 46:58:00 N 007:20:00 E",
    ])),
)


def make_page_rows(n_pages: int, seed: str = "openair-corpus",
                   fixture_fraction: float = 0.25,
                   empty_fraction: float = 0.2,
                   version: str = "2.0") -> list[dict]:
    """Deterministic page rows. ~empty_fraction pages carry no OpenAIR
    payload; ~fixture_fraction of payload pages embed one `PAYLOADS` text
    verbatim; the rest embed 1-3 generated blocks.

    `_embedded_openair` is ground truth for the extraction-invariant
    test only; the engine never reads it."""
    return [
        make_page_row(i, seed, fixture_fraction, empty_fraction, version)
        for i in range(n_pages)
    ]


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "_embedded_openair string"
)


def pages_df(spark, n_pages: int, seed: str = "openair-corpus", **kwargs):
    rows = make_page_rows(n_pages, seed, **kwargs)
    return spark.createDataFrame(rows, schema=PAGES_SCHEMA)


def make_page_row(i: int, seed: str, fixture_fraction: float = 0.25,
                  empty_fraction: float = 0.2, version: str = "2.0") -> dict:
    """Row i of the corpus — independent of every other row, so
    generation distributes trivially (see pages_df_dist)."""
    rng = _rng(f"{seed}|{i}")
    t0 = datetime(2025, 1, 1, tzinfo=timezone.utc)
    url = f"https://example.test/aip/{hashlib.sha256(f'{seed}|{i}'.encode()).hexdigest()[:12]}/{i}"
    lang = _LANGS[i % len(_LANGS)]
    parts = [_noise_paragraph(rng)]
    openair_text = None
    if rng.random() >= empty_fraction:
        if rng.random() < fixture_fraction:
            openair_text = PAYLOADS[rng.randrange(len(PAYLOADS))][1]
        else:
            blocks = [generate_block(f"{seed}|{i}|{b}", version)
                      for b in range(rng.randint(1, 3))]
            openair_text = "\n\n".join(blocks)
        parts.append(BEGIN_SENTINEL)
        parts.append(openair_text)
        parts.append(END_SENTINEL)
    parts.append(_noise_paragraph(rng))
    text = "\n".join(parts)
    html = f"<html><body><pre>{text}</pre></body></html>".encode("utf-8")
    return {
        "url": url,
        "warc_ts": t0 + timedelta(seconds=i * 97),
        "html": html,
        "text": text,
        "lang": lang,
        "_embedded_openair": openair_text,
    }


def pages_df_dist(spark, n_pages: int, seed: str = "openair-corpus",
                  partitions: int | None = None, **kwargs):
    """Executor-parallel corpus generation: spark.range drives row ids,
    each mapInPandas task generates its own slice (rows are seeded per
    id, so the result is identical to pages_df for the same seed)."""
    import pandas as pd

    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)

    def kernel(batches):
        cols = [c.split()[0] for c in PAGES_SCHEMA.split(", ")]
        for pdf in batches:
            rows = [make_page_row(int(i), seed, **kwargs) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=cols)

    return (
        spark.range(0, n_pages, numPartitions=partitions)
        .mapInPandas(kernel, PAGES_SCHEMA)
    )
