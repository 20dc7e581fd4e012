"""Block validation (token order, required tokens, limit order, altitude
syntax) against messages the reference recorded (FIXTURES.md §2.2).

Each input is authored here, not taken from the reference corpus, so
these tests run on any machine. Each expected message is the
reference's recorded `ParserError.message` for the fixture named in
the test, so the parser is checked against an oracle it did not
produce. The altitude syntax is checked by the tokenizer
(core/tokenizer.py), the rest by the block factory (core/factory.py);
both run inside the parse kernel.
"""

from __future__ import annotations

from openair_spark.core.config import VERSION_1, VERSION_2, ParserConfig
from openair_spark.core.parser import parse_text

_RING = (
    "DP 54:25:00 N 010:40:00 E\n"
    "DP 54:25:00 N 010:45:00 E\n"
    "DP 54:20:00 N 010:45:00 E\n"
    "DP 54:25:00 N 010:40:00 E"
)


def _error(text: str, version: str) -> tuple[str, int]:
    result = parse_text(text, ParserConfig.default(version))
    assert not result.success
    return result.error_message, result.error.line_number


def test_order_ceiling_definitions_duplicate():
    """Authored input: a second AL line right after the first.
    Expected message: reference-recorded for
    ceiling-definitions-duplicate.txt (v1)."""
    text = "AC D\nAN Duplicate-floor\nAL GND\nAL 1000ft AMSL\nAH 2000ft AMSL\n" + _RING
    assert _error(text, VERSION_1) == (
        "Error found at line 4: Token 'AL' on line 3 does not allow "
        "subsequent token 'AL' on line 4", 4)


def test_order_empty_name():
    """Authored input: the name line is empty, so AH follows AC.
    Expected message: reference-recorded for empty-name.txt (v1)."""
    text = "AC D\n\nAH 2000ft AMSL\nAL GND\n" + _RING
    assert _error(text, VERSION_1) == (
        "Error found at line 3: Token 'AC' on line 1 does not allow "
        "subsequent token 'AH' on line 3", 3)


def test_inventory_missing_ay():
    """Authored input: a complete v1-style block with no AY line.
    Expected message: reference-recorded for missing-AY.txt (v2)."""
    text = "AC D\nAN No-type\nAH 2000ft AMSL\nAL GND\n" + _RING
    assert _error(text, VERSION_2) == (
        "Error found at line 1: Airspace definition block is missing "
        "required tokens: AY", 1)


def test_inventory_missing_ah_al():
    """Authored input: a block starting on line 3 with no AL, AH or AY
    line (AF keeps the token order valid). Expected message:
    reference-recorded for missing-ah-al.txt (v2)."""
    text = "* no ceilings, no type\n\nAC D\nAN No-ceilings\nAF 123.450\n" + _RING
    assert _error(text, VERSION_2) == (
        "Error found at line 3: Airspace definition block is missing "
        "required tokens: AL, AH, AY", 3)


def test_order_without_ac():
    """Authored input: a block that opens with AN on line 3, after a
    comment and a blank line. Expected message: reference-recorded for
    without-ac.txt (v1)."""
    text = "* no class line\n\nAN No-class\nAH 2000ft AMSL\nAL GND\n" + _RING
    assert _error(text, VERSION_1) == (
        "Error found at line 3: The first token must be of type 'AC'. "
        "Token 'AN' found on line 3.", 3)


def test_limits_al_greater_ah():
    """Authored input: a block starting on line 7 whose AL (line 10) is
    above its AH. Expected message: reference-recorded for
    ceiling-definitions-al-greater-ah.txt (v1)."""
    text = ("* inverted limits\n*\n*\n*\n*\n\n"
            "AC D\nAN Inverted\nAH 1000ft AMSL\nAL 2000ft AMSL\n" + _RING)
    assert _error(text, VERSION_1) == (
        "Error found at line 10: Lower limit must be less than upper limit", 10)


def test_inventory_ag_without_af():
    """Authored input: a v2 block with an AG line (line 5) and no AF
    line. Expected message: reference-recorded for
    single-airspace-ag-but-missing-af.txt (v2)."""
    text = "AC D\nAY CTR\nAN Ground-only\nAH 2000ft AMSL\nAG Tower\nAL GND\n" + _RING
    assert _error(text, VERSION_2) == (
        "Error found at line 5: Token 'AG' is present but token 'AF' is missing.", 5)


def test_altitude_flight_level_missing_number():
    """Authored input: a v2 block whose AH (line 6) is 'FL' with no
    number. Expected message: reference-recorded for
    flight-level-missing-number.txt (v2)."""
    text = "AC D\nAY CTR\nAN Flight-level\nAF 123.450\nAG Tower\nAH FL\nAL GND\n" + _RING
    assert _error(text, VERSION_2) == (
        "Error found at line 6: Error found at line 6: Unknown altitude "
        "definition 'FL'", 6)
