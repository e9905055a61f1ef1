"""Tokenizer / n-gram / MinHash-band lint: each of these SQL facts has one
home, and a pasted copy fails here until it is routed through it.

- the whitespace tokenizer literal lives only in `text._tok_array`;
- the word n-gram array (``array_join(slice(<toks>, i + 1, n), ' ')``
  over a sequence) lives only in `text.ngram_array_sql`;
- the MinHash band key (``md5(concat_ws("#", h…))``) lives only in
  `minhash.band_keys`. The simhash and embedding block melts key on
  bit slices, not on this digest, and are not matched.

The DuckDB oracle texts spell their tokenizer `list_filter(
regexp_split_to_array(…))` and are not matched either. `tools/` is
scanned too; the inline tokenizers in `tests/` (`test_streaming.py`,
`test_extensions.py`) stay on purpose, as references independent of
the engine's copy.
"""

from __future__ import annotations

import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parent.parent
ROOT = REPO / "xeloader_spark"

# the Spark literal (four source backslashes), or any `filter(split(`
# whose pattern is interpolated or a whitespace class
TOKENIZER = re.compile(
    r"""\\\\\\\\s\+'\), x -> x != ''|\bfilter\(split\([^'\n]*'(\{|\\+s\+)"""
)
NGRAM = re.compile(r"array_join\(slice\([^,()]+, i \+ 1")
BAND_MELT = re.compile(r"""concat_ws\(["']#["']""")


def _lines(rx: re.Pattern, root: pathlib.Path = ROOT) -> dict[str, list[str]]:
    found: dict[str, list[str]] = {}
    for p in sorted(root.rglob("*.py")):
        lines = [ln.strip() for ln in p.read_text().splitlines() if rx.search(ln)]
        if lines:
            found[str(p.relative_to(root))] = lines
    return found


def test_tokenizer_only_in_tok_array():
    assert _lines(TOKENIZER) == {
        "operators/text.py": [
            "return f\"filter(split({text_col}, '\\\\\\\\s+'), x -> x != '')\""
        ]
    }, "whitespace tokenizer outside text._tok_array — call it instead"
    assert _lines(TOKENIZER, REPO / "tools") == {}, (
        "whitespace tokenizer in tools/ — call text._tok_array"
    )


def test_ngram_array_only_in_ngram_array_sql():
    assert _lines(NGRAM) == {
        "operators/text.py": [
            "gram = elem.format(f\"array_join(slice({toks}, i + 1, {n}), ' ')\")"
        ]
    }, "word n-gram array outside text.ngram_array_sql — call it instead"


def test_band_melt_only_in_minhash():
    assert set(_lines(BAND_MELT)) == {"operators/minhash.py"}, (
        "MinHash band key outside minhash.py — call minhash.band_keys"
    )
