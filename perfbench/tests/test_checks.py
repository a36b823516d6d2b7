"""Output canonicalization and the near-duplicate check."""

from decimal import Decimal

import pandas as pd

import checks


def test_compare_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
    assert checks.compare(a, b) is None


def test_compare_reports_each_kind_of_difference():
    a = pd.DataFrame({"x": [1.0, 2.0]})
    assert "columns" in checks.compare(a, pd.DataFrame({"z": [1.0, 2.0]}))
    assert "rows" in checks.compare(a, pd.DataFrame({"x": [1.0]}))
    assert checks.compare(a, pd.DataFrame({"x": [1.0, 2.0000000001]})) is not None


def test_compare_canonicalizes_cells_like_the_oracle_checker():
    assert checks.compare(
        pd.DataFrame({"x": [Decimal("1.50")], "y": [[1, 2]]}),
        pd.DataFrame({"x": [1.5], "y": [(1, 2)]}),
    ) is None


def _docs(texts):
    return pd.DataFrame({"doc_id": list(range(len(texts))), "text": texts})


def test_near_dups_accepts_exact_pairs():
    docs = _docs(["a b c d e f", "a b c d e f", "x y z w v u"])
    pairs = pd.DataFrame({"doc_a": [0], "doc_b": [1], "jaccard": [1.0]})
    assert checks.check_near_dups(pairs, docs, 5, (1 << 31) - 1, 0.6) is None


def test_near_dups_rejects_missing_wrong_or_unordered_pairs():
    docs = _docs(["a b c d e f", "a b c d e f", "a b c d e g"])
    none = pd.DataFrame({"doc_a": [], "doc_b": [], "jaccard": []})
    assert "not reported" in checks.check_near_dups(none, docs, 5, (1 << 31) - 1, 0.6)
    wrong = pd.DataFrame({"doc_a": [0, 0], "doc_b": [1, 2], "jaccard": [1.0, 0.9]})
    assert "jaccard" in checks.check_near_dups(wrong, docs, 5, (1 << 31) - 1, 0.6)
    flipped = pd.DataFrame({"doc_a": [1], "doc_b": [0], "jaccard": [1.0]})
    assert "unordered" in checks.check_near_dups(flipped, docs, 5, (1 << 31) - 1, 0.6)


def test_shingles_of_short_text_is_the_whole_text():
    assert checks.shingle_hashes("a b", 5, 1000) == {
        __import__("zlib").crc32(b"a b") % 1000
    }
