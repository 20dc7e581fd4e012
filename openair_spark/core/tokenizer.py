"""OpenAIR line tokenizer.

Faithful re-expression of the reference tokenizer grammar:
dispatch order, canHandle regexes, inline-comment stripping, per-token
metadata parsing and error strings (reference src/tokenizer.ts:76-171
and src/tokens/*.ts). Pure Python — it runs per line inside the
Arrow-batched parse kernel (spark/pipeline.py) and is the only
tokenizer the engine has.

Error-wrapping fidelity: errors raised while parsing a matched line are
wrapped a second time by the tokenizer loop, producing the doubled
"Error found at line N: Error found at line N: ..." messages asserted
by the reference's own tests (reference src/tokenizer.ts:146-157).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Optional

from .config import VERSION_2, ParserConfig
from .coordinates import CoordinateParseError, parse_coordinate
from .errors import ParserError
from .jsnum import js_math_round

BY_NOTAM_ACTIVATION = "BY_NOTAM"

# token type names (reference src/tokens/token-type.enum.ts)
COMMENT, SKIPPED, BLANK, EOF = "COMMENT", "SKIPPED", "BLANK", "EOF"
AC, AY, AN, AF, AG, AL, AH, AA = "AC", "AY", "AN", "AF", "AG", "AL", "AH", "AA"
DA, DB, DC, DP, DY, AX, VD, VW, VX = "DA", "DB", "DC", "DP", "DY", "AX", "VD", "VW", "VX"

IGNORED_TYPES = frozenset({COMMENT, SKIPPED, BLANK})

# dispatch order (reference src/tokenizer.ts:76-115): first match wins
_CAN_HANDLE = [
    (COMMENT, re.compile(r"^\*.*$")),
    (SKIPPED, re.compile(r"^(AT|TO|TC|SP|SB|V Z=\d).*$")),
    (BLANK, None),  # line.length === 0
    (AC, re.compile(r"^AC\s+.*$")),
    (AN, re.compile(r"^AN\s+.*$")),
    (AH, re.compile(r"^AH\s+.*$")),
    (AL, re.compile(r"^AL\s+.*$")),
    (DP, re.compile(r"^DP\s+.*$")),
    (VD, re.compile(r"^V\s+D=[+-]$")),
    (VX, re.compile(r"^V\s+X=.*$")),
    (VW, re.compile(r"^V\s+W=.*$")),
    (DC, re.compile(r"^DC\s+.*$")),
    (DB, re.compile(r"^DB\s+.*$")),
    (DA, re.compile(r"^DA\s+([+-]?\d*(\.\d+)?),\s*([+-]?\d*(\.\d+)?),\s*([+-]?\d*(\.\d+)?)$")),
    (DY, re.compile(r"^DY\s+.*$")),
    (AY, re.compile(r"^AY\s+.*$")),
    (AF, re.compile(r"^AF\s+.*$")),
    (AG, re.compile(r"^AG\s+.*$")),
    (AX, re.compile(r"^AX\s+.*$")),
    (AA, re.compile(r"^AA\s+.*$")),
]

# allowed-next adjacency (reference getAllowedNextTokens per token class)
ALLOWED_NEXT_V1 = {
    COMMENT: [COMMENT, BLANK, AC, AN, AL, AH, DP, VX, VD, DB, DC, AX, AA, AY, AF, AG, EOF, SKIPPED],
    SKIPPED: [COMMENT, BLANK, AC, AN, AL, AH, DP, VX, VD, DB, DC, EOF, SKIPPED, AY, AF, AG],
    BLANK: [BLANK, AC, COMMENT, EOF, SKIPPED],
    AC: [COMMENT, AN, SKIPPED],
    AN: [COMMENT, AL, AH, SKIPPED],
    AH: [COMMENT, AG, AF, AL, DP, VW, VX, SKIPPED, VD],
    AL: [COMMENT, AG, AF, AH, DP, VW, VX, SKIPPED, VD, AX],
    DP: [COMMENT, DP, DA, BLANK, EOF, VD, VX, SKIPPED],
    DY: [COMMENT, DY, BLANK, EOF, SKIPPED],
    VD: [COMMENT, VX, DA, DB, SKIPPED],
    VX: [COMMENT, DC, DB, DA, VD, SKIPPED],
    VW: [COMMENT, DY, BLANK, EOF, SKIPPED],
    DC: [BLANK, COMMENT, EOF, SKIPPED],
    DB: [BLANK, COMMENT, DP, VD, VX, SKIPPED],
    DA: [BLANK, COMMENT, DA, DP, VD, VX, SKIPPED],
    AY: [COMMENT, AN, SKIPPED],
    AF: [COMMENT, AG, AL, AH, SKIPPED, DP, VW, VX, VD, AX, AA],
    AG: [COMMENT, AF, AL, AH, DP, VW, VX, SKIPPED, VD, AA, AX],
    AX: [COMMENT, AG, AL, AH, SKIPPED, DP, VW, VX, VD, AN, AF, AA],
    AA: [COMMENT, AA, AF, AG, AL, AH, SKIPPED, DP, VW, VX, VD, AX],
    EOF: [],
}

ALLOWED_NEXT_V2 = dict(ALLOWED_NEXT_V1)
ALLOWED_NEXT_V2[AC] = ALLOWED_NEXT_V1[AC] + [AY]
ALLOWED_NEXT_V2[AN] = ALLOWED_NEXT_V1[AN] + [AF, AG, AX, AA]


def allowed_next(version: str):
    return ALLOWED_NEXT_V2 if version == VERSION_2 else ALLOWED_NEXT_V1


_INLINE_COMMENT = re.compile(r"\s?\*.*")

_RE_ALT_DEFAULT = re.compile(r"^(\d+(\.\d+)?)\s*(FT|ft|M|m)\s*(AMSL|AGL)$")
_RE_ALT_FL = re.compile(r"^FL\s*(\d{2,})$")
_RE_ALT_GND = re.compile(r"^(GND)$")
_RE_ALT_UNL = re.compile(r"^(UNL)$")
_RE_FREQ = re.compile(r"^\d{3}\.\d{3}$")
_RE_TRANSPONDER = re.compile(r"^[0-7]{4}$")
_RE_NUMBER = re.compile(r"^\d+(\.\d+)?$")
_RE_ISO = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}(?::\d{2})?Z$")

METERS_TO_FEET = 3.28084  # reference src/unit-conversion.ts:4-13


@dataclass
class Token:
    type: str
    line: str  # comment-stripped line (what the reference stores in tokenized)
    raw_line: str
    line_number: int
    metadata: dict = field(default_factory=dict)

    @property
    def ignored(self) -> bool:
        return self.type in IGNORED_TYPES


def classify(line: str) -> Optional[str]:
    """First-match token type for a trimmed line, or None (unknown syntax)."""
    for token_type, pattern in _CAN_HANDLE:
        if pattern is None:
            if len(line) == 0:
                return token_type
        elif pattern.match(line):
            return token_type
    return None


def _strip_inline_comment(line: str) -> str:
    return _INLINE_COMMENT.sub("", line, count=1)


def _parse_altitude(alt: str, config: ParserConfig) -> dict:
    """Altitude reader cascade (reference src/tokens/abstract-altitude-token.ts)."""
    m = _RE_ALT_DEFAULT.match(alt)
    if m:
        value = float(m.group(1))
        unit = "FT" if m.group(3) in ("FT", "ft") else "M"
        datum = "MSL" if m.group(4) == "AMSL" else "GND"
        target = config.target_alt_unit
        if target is not None:
            if unit != target:
                if unit == "FT" and target == "M":
                    value = value / METERS_TO_FEET
                elif unit == "M" and target == "FT":
                    value = value * METERS_TO_FEET
                else:
                    raise ParserError(f"Unit conversion between '{unit}' and '{target}' not supported")
            unit = target
        if config.round_alt_values:
            value = js_math_round(value)
        return {"value": value, "unit": unit, "referenceDatum": datum}
    m = _RE_ALT_FL.match(alt)
    if m:
        return {"value": int(m.group(1)), "unit": "FL", "referenceDatum": "STD"}
    if _RE_ALT_GND.match(alt):
        return {"value": 0, "unit": "FT", "referenceDatum": "GND"}
    if _RE_ALT_UNL.match(alt):
        return {"value": config.unlimited, "unit": "FL", "referenceDatum": "STD"}
    raise SyntaxError(f"Unknown altitude definition '{alt}'")


def _is_valid_activation_time(value: Optional[str]) -> bool:
    if value == "NONE":
        return True
    if value is None or not _RE_ISO.match(value):
        return False
    try:
        _parse_iso(value)
        return True
    except ValueError:
        return False


def _parse_iso(value: str) -> datetime:
    fmt = "%Y-%m-%dT%H:%M:%SZ" if value.count(":") == 2 else "%Y-%m-%dT%H:%MZ"
    return datetime.strptime(value, fmt).replace(tzinfo=timezone.utc)


def _normalize_iso(value: str) -> str:
    """new Date(iso).toISOString() minus milliseconds (aa-token.ts:148-151)."""
    return _parse_iso(value).strftime("%Y-%m-%dT%H:%M:%SZ")


def _parse_activation(payload: str, stripped_line: str, line_number: int,
                      warn_if_expired: bool, warnings: list, now: Optional[datetime]):
    parts = payload.split("/")
    if len(parts) == 1 and parts[0] == "NONE":
        return BY_NOTAM_ACTIVATION
    start = parts[0]
    end = parts[1] if len(parts) > 1 else None
    if not _is_valid_activation_time(start) or not _is_valid_activation_time(end):
        raise ParserError(
            f"Invalid activation times format found at '{stripped_line}'. "
            "Start and end must be in ISO 8601 date-time format or NONE.",
            line_number,
        )
    start_date = None if start == "NONE" else _normalize_iso(start)
    end_date = None if end == "NONE" else _normalize_iso(end)
    if start_date is None and end_date is None:
        raise ParserError(
            f"Invalid activation times format found at '{stripped_line}'. "
            "At least one of the start or end must be specified or only NONE.",
            line_number,
        )
    if start_date is not None and end_date is not None and start_date >= end_date:
        raise ParserError(
            f"Invalid activation times format '{stripped_line}'. Start date must be before end date.",
            line_number,
        )
    activation = {}
    if start_date is not None:
        activation["start"] = start_date
    if end_date is not None:
        if warn_if_expired:
            ref_now = now or datetime.now(timezone.utc)
            if _parse_iso(end_date) < ref_now:
                warnings.append(
                    f"WARN: Expired activation end date '{stripped_line}' found at line number {line_number}."
                )
        activation["end"] = end_date
    return activation


def tokenize_line(token_type: str, line: str, line_number: int, config: ParserConfig,
                  warnings: Optional[list] = None, now: Optional[datetime] = None) -> Token:
    """Parse one classified line into a Token (metadata per token class).

    Raises ParserError with the reference's exact message strings. The
    caller (tokenize) re-wraps these, duplicating the line prefix like
    the reference tokenizer loop does.
    """
    raw = line
    if warnings is None:
        warnings = []
    if token_type in (COMMENT, SKIPPED, BLANK):
        return Token(token_type, line, raw, line_number)

    stripped = _strip_inline_comment(line)

    if token_type == AC:
        value = re.sub(r"^AC\s+", "", stripped)
        if value not in config.allowed_classes:
            raise ParserError(f"Unknown airspace class '{stripped}'", line_number)
        return Token(AC, stripped, raw, line_number, {"class": value})
    if token_type == AN:
        return Token(AN, stripped, raw, line_number, {"name": re.sub(r"^AN\s+", "", stripped)})
    if token_type in (AH, AL):
        payload = re.sub(rf"^{token_type}\s+", "", stripped)
        try:
            altitude = _parse_altitude(payload, config)
        except SyntaxError as err:
            raise ParserError(str(err), line_number) from None
        return Token(token_type, stripped, raw, line_number, {"altitude": altitude})
    if token_type in (DP, DY):
        payload = re.sub(rf"^{token_type}\s+", "", stripped)
        try:
            lon, lat = parse_coordinate(payload.strip())
        except CoordinateParseError:
            raise ParserError(f"Unknown coordinate definition '{stripped}'", line_number) from None
        return Token(token_type, stripped, raw, line_number, {"coordinate": [lon, lat]})
    if token_type == VX:
        payload = re.sub(r"^V\s+[X]=", "", stripped)
        try:
            lon, lat = parse_coordinate(payload.strip())
        except CoordinateParseError:
            raise ParserError(f"Unknown coordinate definition '{stripped}'", line_number) from None
        return Token(VX, stripped, raw, line_number, {"coordinate": [lon, lat]})
    if token_type == VD:
        value = re.sub(r"^V\s+D=", "", stripped)
        return Token(VD, stripped, raw, line_number, {"clockwise": value == "+"})
    if token_type == VW:
        payload = re.sub(r"^V\s+[W]=", "", stripped)
        if not _RE_NUMBER.match(payload):
            raise ParserError(f"Unknown airway width definition '{stripped}'", line_number)
        return Token(VW, stripped, raw, line_number, {"width": float(payload)})
    if token_type == DC:
        payload = re.sub(r"^DC\s+", "", stripped)
        if not _RE_NUMBER.match(payload):
            raise ParserError(f"Unknown circle radius definition '{stripped}'", line_number)
        return Token(DC, stripped, raw, line_number, {"radius": float(payload)})
    if token_type == DB:
        payload = re.sub(r"^DB\s+", "", stripped)
        endpoints = payload.split(",")
        try:
            start = parse_coordinate(endpoints[0].strip())
            end = parse_coordinate(endpoints[1].strip())
        except (CoordinateParseError, IndexError):
            raise ParserError(f"Unknown coordinate definition '{stripped}'", line_number) from None
        return Token(DB, stripped, raw, line_number,
                     {"startCoordinate": list(start), "endCoordinate": list(end)})
    if token_type == DA:
        payload = re.sub(r"^DA\s+", "", stripped)
        radius_str, angle_start, angle_end = payload.split(",")[:3]
        radius_m = float(radius_str) * 1852.0  # NM -> meters (da-token.ts:52)
        def _to_bearing(angle: float) -> float:
            b = angle % 360.0 if angle >= 0 else -((-angle) % 360.0)
            if b < 0:
                b += 360.0
            return b
        return Token(DA, stripped, raw, line_number, {
            "radius": radius_m,
            "startBearing": _to_bearing(float(angle_start)),
            "endBearing": _to_bearing(float(angle_end)),
        })
    if token_type == AY:
        value = re.sub(r"^AY\s+", "", stripped)
        if config.allowed_types and value not in config.allowed_types:
            raise ParserError(f"Unknown extended airspace type '{stripped}'", line_number)
        return Token(AY, stripped, raw, line_number, {"type": value})
    if token_type == AF:
        payload = re.sub(r"^AF\s+", "", stripped)
        if not _RE_FREQ.match(payload):
            raise ParserError(f"Invalid frequency string '{stripped}'", line_number)
        return Token(AF, stripped, raw, line_number, {"frequency": payload})
    if token_type == AG:
        return Token(AG, stripped, raw, line_number, {"name": re.sub(r"^AG\s+", "", stripped)})
    if token_type == AX:
        payload = re.sub(r"^AX\s+", "", stripped)
        if not _RE_TRANSPONDER.match(payload):
            raise ParserError(f"Invalid transponder code string '{stripped}'", line_number)
        return Token(AX, stripped, raw, line_number, {"code": int(payload)})
    if token_type == AA:
        payload = re.sub(r"^AA\s+", "", stripped)
        activation = _parse_activation(payload, stripped, line_number,
                                       config.warn_if_expired, warnings, now)
        return Token(AA, stripped, raw, line_number, {"activation": activation})
    raise ParserError(f"Unknown token '{token_type}'", line_number)


def tokenize(text: str, config: ParserConfig,
             warnings: Optional[list] = None, now: Optional[datetime] = None) -> list[Token]:
    """Tokenize full OpenAIR text (reference Tokenizer.tokenize,
    src/tokenizer.ts:120-171): split on \\r?\\n, trim, first-match
    dispatch, fail-fast with wrapped errors, append EOF."""
    if warnings is None:
        warnings = []
    tokens: list[Token] = []
    lines = re.split(r"\r?\n", text)
    line_number = 0
    for raw_line in lines:
        line_number += 1
        line = raw_line.strip()
        token_type = classify(line)
        if token_type is None:
            raise ParserError(f"Failed to read line {line_number}. Unknown syntax.", line_number)
        try:
            token = tokenize_line(token_type, line, line_number, config, warnings, now)
        except ParserError as err:
            # reference wraps the inner (already prefixed) message again
            raise ParserError(err.message, line_number) from None
        tokens.append(token)
    tokens.append(Token(EOF, "", "", line_number, {"lastLineNumber": line_number}))
    return tokens
