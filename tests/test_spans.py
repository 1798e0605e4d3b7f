"""ExactSubstr span removal: hand-built removals, intra-doc repeats,
and the short-doc no-op."""

from hiero_spark.functions.spans import remove_repeated_spans


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _tok(s):
    return " ".join(f"w{i}" for i in s)


def test_later_occurrence_cut_first_kept(spark):
    span = _tok(range(16))  # the shared 16-token span
    df = _docs(
        spark,
        [
            (1, f"{span} tail one"),
            (2, f"lead {span}"),          # later occurrence -> span cut
            (3, "something entirely different with no dup"),
        ],
    )
    out = {r["doc_id"]: r for r in remove_repeated_spans(df, "text", "doc_id", k=16).collect()}
    assert out[1]["clean_text"] == f"{span} tail one"
    assert out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "lead"
    assert out[2]["n_removed"] == 16
    assert out[3]["n_removed"] == 0


def test_intra_doc_repeat_collapses(spark):
    span = _tok(range(16))
    df = _docs(spark, [(7, f"{span} {span}")])
    [r] = remove_repeated_spans(df, "text", "doc_id", k=16).collect()
    # second occurrence (positions 16..31) cut; overlapping bridge spans
    # also repeat nothing (all unique), so exactly 16 tokens go
    assert r["clean_text"] == span
    assert r["n_removed"] == 16


def test_short_docs_untouched(spark):
    df = _docs(spark, [(1, "short doc"), (2, "short doc")])  # < k tokens
    out = {r["doc_id"]: r for r in remove_repeated_spans(df, "text", "doc_id", k=16).collect()}
    assert out[1]["n_removed"] == out[2]["n_removed"] == 0
    assert out[1]["clean_text"] == "short doc"

