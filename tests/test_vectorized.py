# -*- coding: utf-8 -*-
"""Vectorized (pandas and JVM column) forms must agree element-wise with the
scalar contract functions."""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from wikdict_gen_spark.functions import textclean as tc
from wikdict_gen_spark.functions import vectorized as vec
from wikdict_gen_spark.operators.process import clean_inflection_col

TRICKY = [
    None,
    "",
    "plain text",
    "a &nbsp; b",
    "CH<sub>3</sub>–(CH<sub>2</sub>)<sub>8</sub>–</small/>COOH",
    "x<sup>2</sup>",
    'drop<ref name="x">me</ref> keep',
    "Brunnen mit ''Spring''fontänen",
    "'''V'''ereinte '''N'''ationen",
    ": Gesamtheit, alle ",
    "| pipe noise",
    "Qui est en [[âge]] de se [[marier]]",
    "Voir [[sauter#fr|sauter]]",
    "[[ojentaa]] ([[käsi|käte]][[-nsa|nsä]])",
    "[[[[gå]] av]]",
    "Saillir une femelle (la féconder).|9 {{trans|nocat=1",
    "word {{template|arg",
    "Traductions à trier suivant le sens",
    "die Art und Weise o.&nbsp;Ä.",
    "  spaced  ",
]


def test_clean_html_series():
    s = pd.Series(TRICKY, dtype="object")
    got = vec.clean_html_series(s)
    want = [tc.clean_html(x) for x in TRICKY]
    assert list(got) == want


def test_clean_wiki_syntax_series():
    vals = [x for x in TRICKY if x is not None]
    s = pd.Series(vals, dtype="object")
    got = vec.clean_wiki_syntax_series(s)
    want = [tc.clean_wiki_syntax(x) for x in vals]
    assert list(got) == want


@pytest.mark.parametrize("lang", ["de", "fr", "en"])
def test_parse_sense_series(lang):
    vals = TRICKY
    s = pd.Series(vals, dtype="object")
    got = vec.parse_sense_series(s, pd.Series([lang] * len(vals)))
    want = [tc.parse_sense(x, lang) for x in vals]
    assert [None if pd.isna(g) else g for g in got] == want


# (value, lang, cleaned): the German scaffolding rules plus the places
# where Python's and Java's regex dialects differ (`\s`, `$`)
INFLECTION_GOLDEN = [
    ("er/sie/es geht", "de", "geht"),
    ("es ist schön", "de", "schön"),
    ("wirf!", "de", "wirf"),
    ("die Bäume", "de", "Bäume"),
    ("die Bäume", "en", "die Bäume"),
    ("die Bäume", None, "die Bäume"),
    (None, "de", None),
    ("ich  ist\tgut!", "de", "gut"),
    ("der das Haus", "de", "das Haus"),
    ("ersie geht", "de", "ersie geht"),
    ("Er geht", "de", "Er geht"),
    ("ich\u00a0gehe", "de", "gehe"),            # NBSP is whitespace to Python
    ("du\u3000gehst", "de", "gehst"),
    ("du\u200bgehst", "de", "du\u200bgehst"),  # zero-width space is not
    ("geh!\n", "de", "geh\n"),                 # `$` before one final newline
    ("geh!\n\n", "de", "geh!\n\n"),
    ("geh!\r", "de", "geh!\r"),                # Java's `$` would match here
    ("geh!\u2028", "de", "geh!\u2028"),
    ("geh! ", "de", "geh! "),
]

_INFLECTION_TOKENS = [
    "er/sie/es", "ich", "du", "er", "sie", "es", "wir", "ihr", "ist", "der",
    "die", "das", "!", "Haus", "geh", "ä", "\U0001d518", "/", "\u200b", "\u180e",
    "\ufeff", "\x1b", *[c for c in map(chr, range(0x3001)) if c.isspace()],
]


def _fuzz_inflection(n, seed=20240817):
    rng = random.Random(seed)
    return [
        ("".join(rng.choice(_INFLECTION_TOKENS) for _ in range(rng.randint(0, 6))),
         rng.choice(["de", "de", "de", "en", None]))
        for _ in range(n)
    ]


def test_clean_inflection_column(spark):
    """The JVM regexp_replace form of clean_inflection matches the scalar
    Python contract on golden vectors and on 20 000 seeded fuzz values."""
    for value, lang, want in INFLECTION_GOLDEN:
        if value is not None:
            assert tc.clean_inflection(value, lang) == want, (value, lang)
    cases = [(v, lang) for v, lang, _ in INFLECTION_GOLDEN] + _fuzz_inflection(20_000)
    df = spark.createDataFrame(
        [(i, v, lang) for i, (v, lang) in enumerate(cases)],
        schema="id long, value string, lang string",
    )
    got = dict(df.select("id", clean_inflection_col(F.col("value"), F.col("lang"))).collect())
    mismatches = [
        (v, lang, got[i])
        for i, (v, lang) in enumerate(cases)
        if got[i] != (None if v is None else tc.clean_inflection(v, lang))
    ]
    assert mismatches == []


def test_sense_num_series():
    vals = ["3", "3a", "12", "12bc", None, ""]
    got = vec.sense_num_series(pd.Series(vals, dtype="object"))
    want = [tc.normalize_sense_num(v) for v in vals]
    assert [None if pd.isna(g) else g for g in got] == want


def test_sense_num_series_raises():
    with pytest.raises(ValueError):
        vec.sense_num_series(pd.Series(["abc"], dtype="object"))


def test_gloss_trailer_series():
    vals = ["manger (1)", "manger|2", "manger:", "manger", None]
    got = vec.strip_gloss_trailer_series(pd.Series(vals, dtype="object"))
    want = [None if v is None else tc.strip_gloss_trailer(v) for v in vals]
    assert [None if pd.isna(g) else g for g in got] == want


def test_surface_guess_series():
    got = vec.surface_guess_series(pd.Series(["deu/Haus", "eng/ice_cream"]))
    assert list(got) == ["Haus", "ice cream"]


def test_decode_utf8_series():
    got = vec.decode_utf8_series(
        pd.Series([b"ok", "caf\xe9".encode("latin-1"), None], dtype="object")
    )
    assert list(got) == ["ok", "caf�", None]
