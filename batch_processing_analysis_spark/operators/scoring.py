"""Batched linear text-classifier inference (M136): the fastText-style
hashed bag-of-words linear scorer every corpus-quality pipeline runs at
scale (Joulin et al. 2017 "Bag of tricks" — hashing trick from
Weinberger et al. 2009; both public), as pure relational algebra:
:func:`linear_scores_relational` explodes tokens, joins the weight table
and sums — the better plan when the model fits a broadcast join.

Determinism: per-token contributions are integer micros
(``w_micro · token_count`` — exact in any order and identical in any
plan); the logit is the exact integer sum plus the bias, and the only
float op is the final sigmoid on the quantized logit.

Weights here are md5-seeded demo values (``seeded_weights``) so tests
replay them; a real model exports its embedding-bag row norms the same
way.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import tokens


def _w_micro(token: str, seed: str) -> int:
    """Deterministic demo weight in [-1, 1) micros (md5-derived)."""
    h = int(hashlib.md5(f"{seed}\x1f{token}".encode()).hexdigest()[:15],
            16)
    return (h % 2_000_000) - 1_000_000


def seeded_weights(vocab: list[str], seed: str = "linear:0") -> dict[str, int]:
    """token → integer-micro weight, reproducible across engines."""
    return {t: _w_micro(t, seed) for t in vocab}


def linear_scores_relational(docs: DataFrame, weights: dict[str, int],
                             bias_micro: int = 0,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """The linear model as relational algebra: explode tokens, broadcast-
    join the weight table, integer-sum per doc. Everything stays in
    codegen while the model is broadcast-sized."""
    spark = docs.sparkSession
    wdf = spark.createDataFrame(
        [(t, w) for t, w in weights.items()], "_t string, _w long"
    )
    tok = docs.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("_t"),
    )
    per_doc = (
        tok.join(F.broadcast(wdf), "_t", "left")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             F.sum(F.coalesce("_w", F.lit(0).cast("long")))
             .alias("_wsum"))
    )
    zero = F.lit(0).cast("long")
    logit = F.coalesce("_wsum", zero) + F.lit(bias_micro)
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", zero).alias("n_tokens"),
            logit.cast("long").alias("logit_micro"),
            F.floor(F.lit(1e6)
                    / (F.lit(1.0) + F.exp(-logit / F.lit(1e6)))
                    + F.lit(0.5)).cast("long").alias("score_micro"),
        )
    )


__all__ = ["seeded_weights", "linear_scores_relational"]
