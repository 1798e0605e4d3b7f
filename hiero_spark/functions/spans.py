"""Exact repeated-span REMOVAL — the full ExactSubstr recipe of Lee et
al. 2022 ("Deduplicating Training Data Makes Language Models Better"):
every verbatim k-token span that occurs more than once in the corpus
survives only at its FIRST occurrence (min (doc, pos)); later
occurrences are cut out of their documents and the remaining tokens
reassemble. Complements repeated_span_pairs (functions/dedup.py), which
only REPORTS the overlapping doc pairs.

Scale shape:
- span keys are built per position with the shifted-views zip_with
  construction (token array referenced outside lambdas — the
  shingle_array re-tokenization trap) and explode to (doc, pos, gram);
- the keeper choice is groupBy(gram).min(struct(doc, pos)) — map-side
  combine, skew-safe for mega-duplicated boilerplate spans;
- only NON-first occurrences explode into covered token positions, so
  the covered relation is bounded by the duplicated-content volume,
  not the corpus;
- reconstruction is per-row Catalyst (filter token positions against
  the doc's covered-set array) — documents never shuffle.

The gram key travels as the STRING: the oracle recomputes identical
keys (DuckDB has no xxhash64).

Reconstruction is canonicalized: tokens are the lowercase/trim/split
tokenization (the span-matching domain), rejoined single-spaced.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from hiero_spark.functions._fanout import fan_out


def _position_grams(text: Column, k: int) -> Column:
    """Array of k-token gram strings, index j = gram starting at token j
    (0-based); EMPTY for docs shorter than k tokens."""
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    n = F.size(toks)
    grams = toks
    for j in range(1, k):
        shifted = F.slice(toks, j + 1, F.greatest(n - j, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(grams, 1, F.greatest(n - (k - 1), F.lit(0)))


def remove_repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 16,
) -> DataFrame:
    """(doc_id, clean_text, n_removed): corpus with every repeated
    k-token span kept only at its first (doc, pos) occurrence."""
    base = fan_out(df, id_col)
    spans = base.select(
        F.col(id_col).alias("doc"),
        F.posexplode(_position_grams(F.col(text_col), k)).alias("pos", "gram"),
    )
    keepers = spans.groupBy("gram").agg(
        F.min(F.struct("doc", "pos")).alias("keep")
    )
    dup_occ = (
        spans.join(keepers, "gram")
        .filter(
            (F.col("doc") != F.col("keep.doc")) | (F.col("pos") != F.col("keep.pos"))
        )
        .select("doc", "pos")
    )
    covered = (
        dup_occ.select(
            "doc", F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("cpos")
        )
        .distinct()
        .groupBy("doc")
        .agg(F.collect_set("cpos").alias("cut"))
    )
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    joined = base.join(
        covered, base[id_col] == covered["doc"], "left"
    )
    cut = F.coalesce(F.col("cut"), F.array().cast("array<int>"))
    # zip token with its position so `toks` is referenced once inside the
    # lambda chain — element_at(toks, p) per kept position would inline
    # the split and re-tokenize the doc per element (O(n²) per row)
    indexed = F.zip_with(
        toks,
        F.sequence(F.lit(0), F.size(toks) - 1),
        lambda tok, p: F.struct(tok.alias("t"), p.alias("p")),
    )
    kept = F.filter(
        indexed, lambda s: ~F.array_contains(cut, s["p"].cast("int"))
    )
    clean = F.array_join(F.transform(kept, lambda s: s["t"]), " ")
    return joined.select(
        F.col(id_col).alias("doc_id"),
        clean.alias("clean_text"),
        F.size(cut).cast("long").alias("n_removed"),
    )
