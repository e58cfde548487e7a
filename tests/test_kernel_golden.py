"""Golden end-to-end fixtures ported from the reference test suite
(/root/reference/test, SURVEY.md §5): byte-for-byte rtf_out equality.
"""

from pathlib import Path

import pytest

from rtfproc_spark.kernel import ReplacementSet, rtf_extract_bytes

REF = Path("/root/reference/test")

LETTER_REPLACEMENTS = [
    # test/letter.c:31-45 (keys use cp1252 « » decoded from \'ab/\'bb)
    ("«SSIC»", "1000"),
    ("«Office Code»", "B 0524"),
    ("«Date»", "13 Sep 21"),
    ("«Property Mgr Name»", "Shady Management"),
    ("«Property Mgr Addr»", "1234 Main Street"),
    ("«Property Mgr City»", "Woodbridge"),
    ("«Property Mgr State»", "VA"),
    ("«Property Mgr ZIP»", "22192"),
    ("«Client Rank»", "Colonel"),
    ("«Client Full Name»", "Chesty A. Puller"),
    ("«Client Last Name»", "Puller"),
    ("こんにちは！", "Bonjour."),  # never matches — exercises the no-op path
]

LATEPARTIAL_REPLACEMENTS = [
    # test/latepartial.c:31-37
    ("JAMES", "BOOBEAR"),
    ("MEXICAN", "LATIN"),
    ("ATTORNEY", "Maj J. L. Ockert"),
    ("TORTLOCATION", "Colorado Springs, CO"),
]


@pytest.mark.parametrize(
    "stem,replacements",
    [("letter", LETTER_REPLACEMENTS), ("latepartial", LATEPARTIAL_REPLACEMENTS)],
)
def test_golden_rtf_out(stem, replacements):
    data = (REF / f"{stem}-input.rtf").read_bytes()
    expected = (REF / f"{stem}-correct.rtf").read_bytes()
    rs = ReplacementSet(replacements)
    rtf_out, plain, err = rtf_extract_bytes(data, rs)
    assert err is None
    assert rtf_out == expected


def test_golden_roundtrip_no_match():
    # The speedtest invariant (/root/reference/Makefile:103): with a
    # replacement set that never matches, output == input byte-for-byte.
    for stem in ("letter", "latepartial"):
        data = (REF / f"{stem}-input.rtf").read_bytes()
        rs = ReplacementSet([("NEVERMATCHESANYTHING", "x"), ("«ZZZ»", "y")])
        rtf_out, _, err = rtf_extract_bytes(data, rs)
        assert err is None
        assert rtf_out == data


def test_golden_roundtrip_empty_replacements():
    for stem in ("letter", "latepartial"):
        data = (REF / f"{stem}-input.rtf").read_bytes()
        rtf_out, _, err = rtf_extract_bytes(data)
        assert err is None
        assert rtf_out == data


def test_latepartial_quirks_pinned():
    # JAMEXICAN -> JALATIN, ATTORTLOCATION -> ATColorado Springs, CO
    data = (REF / "latepartial-input.rtf").read_bytes()
    rs = ReplacementSet(LATEPARTIAL_REPLACEMENTS)
    rtf_out, plain, _ = rtf_extract_bytes(data, rs)
    assert b"JALATIN FOOD" in rtf_out
    assert b"ATColorado Springs, CO." in rtf_out
    assert b"BOOBEAR" in rtf_out
    # plain_text keeps the ORIGINAL matched key text (rtfproc.c:1072-1085)
    assert b"JAMEXICAN" in plain
    assert b"ATTORTLOCATION" in plain
    assert b"BOOBEAR" not in plain


def test_latepartial_uc_countdown_quirk():
    # \uc2 \u10084 \u-497: the countdown eats 2 of U+FE0F's 3 UTF-8 bytes,
    # leaving a stray continuation byte, then eats the literal "<3" fallback
    # (SURVEY.md §7 risk register).
    data = (REF / "latepartial-input.rtf").read_bytes()
    _, plain, _ = rtf_extract_bytes(data, ReplacementSet(LATEPARTIAL_REPLACEMENTS))
    heart = "❤".encode()  # U+2764
    assert heart in plain
    # stray last byte of U+FE0F (0x8f) right after the heart
    i = plain.index(heart)
    assert plain[i + 3 : i + 4] == b"\x8f"
    # the literal "<3" was consumed by the re-armed countdown (the space
    # after \u-497 is consumed into the command, not a text event)
    assert plain[i + 4 : i + 10] == b" JAMES"
