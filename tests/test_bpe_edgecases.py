"""Edge cases of the BPE merge loop (plans/llm_pipeline.py::bpe_merges_vocab).

The merge rounds run on the driver in Python while the DuckDB twin runs them
as SQL, so the two must agree on exactly the details the fixtures never
exercise: overlapping repeats of one pair, the tie order between ASCII and
non-ASCII pairs (Python's code-point order is UTF-8 byte order; UTF-16 order
would differ for ``｡`` U+FF61 against ``😀`` U+1F600), trimming spaces but
not tabs, an early stop when no pair is left, and NULL or empty text. Each
case is a tiny synthetic ``documents`` table, checked cell-exact against
DuckDB and for its number of merge rounds.
"""

from __future__ import annotations

import pandas as pd
import pytest

from cbde_mapreduce_spark.plans import REGISTRY
from tests.test_advice_edgecases import _assert_edge_parity, _docs_oracle

CASES = {
    # "a a a a" holds three overlapping "a a" pairs, and a greedy
    # left-to-right replace merges only the first two of them
    "adjacent_repeats": (["aaaa aaaa abab", "abab abab", "aaaa b"], 3),
    # round 1 ties "z y" with "é a" (z sorts first); round 3 ties "｡ q"
    # with "😀 q" ("｡" sorts first by code point, last by UTF-16 unit)
    "ascii_vs_non_ascii_ties": (["zy zy éa éa", "😀q ｡q", "😀q ｡q"], 3),
    # "x<TAB>" keeps its tab symbol through round 1's merge, so "x <TAB>"
    # wins round 2; trimming whitespace instead of spaces would drop it
    "word_ending_in_tab": (["ab ab ab ab ab", "x\t x\t x\t cd"], 3),
    # one two-symbol word: round 2 finds no pair and the loop stops
    "single_chars_stop_early": (["a b c", "a ab c", None, ""], 1),
    "null_and_empty_text": ([None, "", ""], 0),
}


@pytest.mark.parametrize("case", CASES)
def test_bpe_matches_duckdb_on_edge_vocabulary(spark, tmp_path, case):
    texts, rounds = CASES[case]
    n = len(texts)
    pd.DataFrame(
        {
            "doc_id": range(n),
            "text": texts,
            "lang": ["en"] * n,
            "source": ["edge"] * n,
            "n_chars": [len(t or "") for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    _assert_edge_parity(spark, "bpe_merges_vocab", str(tmp_path))
    want = _docs_oracle(REGISTRY["bpe_merges_vocab"].oracle, str(tmp_path))
    assert sorted(want["round"]) == list(range(1, rounds + 1)), case
