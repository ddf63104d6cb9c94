"""Output checks against the planted truth.

Each check returns plain numbers; run.py decides pass/fail and counts a
failed check as a failed operation.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, functions as F

_TRIPLE_KEY = ["conv_id", "turn_idx", "pred", "obj", "rule_id"]


def triple_pr(got: DataFrame, expected: DataFrame) -> tuple[float, float]:
    """Multiset precision/recall of extracted triples against the
    planted ones, keyed on (conv_id, turn_idx, pred, obj, rule_id)."""
    g = got.groupBy(*_TRIPLE_KEY).agg(F.count("*").alias("ng"))
    e = expected.groupBy(*_TRIPLE_KEY).agg(F.count("*").alias("ne"))
    row = (
        g.join(e, _TRIPLE_KEY, "full_outer")
        .agg(
            F.sum(F.least(F.coalesce("ng", F.lit(0)), F.coalesce("ne", F.lit(0)))).alias("tp"),
            F.sum(F.coalesce("ng", F.lit(0))).alias("n_got"),
            F.sum(F.coalesce("ne", F.lit(0))).alias("n_exp"),
        )
        .first()
    )
    tp, n_got, n_exp = row["tp"] or 0, row["n_got"] or 0, row["n_exp"] or 0
    return (tp / n_got if n_got else 0.0, tp / n_exp if n_exp else 0.0)


def triples_digests(a: DataFrame, b: DataFrame) -> tuple[tuple, tuple]:
    """(row count, bit_xor of per-row xxhash64) of two triple tables,
    over the columns both extractors emit; order-independent, one job."""
    def tagged(df: DataFrame, tag: int) -> DataFrame:
        return df.select(F.lit(tag).alias("t"), F.xxhash64(
            "conv_id", "turn_idx", "subj", "pred", "obj", "rule_id", "confidence"
        ).alias("h"))

    rows = {r["t"]: (r["n"], r["x"]) for r in tagged(a, 0).unionByName(tagged(b, 1))
            .groupBy("t").agg(F.count("*").alias("n"), F.expr("bit_xor(h)").alias("x"))
            .collect()}
    return rows.get(0, (0, 0)), rows.get(1, (0, 0))


def table_digest(df: DataFrame) -> tuple[int, int]:
    """(row count, bit_xor of xxhash64 over every column)."""
    cols = sorted(df.columns)
    row = df.select(F.xxhash64(*[F.col(c).cast("string") for c in cols]).alias("h")).agg(
        F.count("*").alias("n"), F.expr("bit_xor(h)").alias("x")).first()
    return row["n"], row["x"] or 0


def entities_from_map(entity_map: DataFrame) -> dict:
    """surface -> entity id, from a build's entity map."""
    return {r["surface"]: r["entity_id"]
            for r in entity_map.select("surface", "entity_id").collect()}


def entities_from_pairs(pairs: set[tuple]) -> dict:
    """surface -> component root of the linked-pair graph (union-find);
    surfaces in no pair are entities of their own and stay absent."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {s: find(s) for s in parent}


def entity_pr(ent: dict, families: list[list[str]], loners: list[str]) -> dict:
    """Precision/recall of same-entity surface pairs against planted
    same-family pairs, plus the planted-structure checks: every family
    resolves to one entity, and no loner (decoy or ticket id) shares an
    entity with any other surface. Surfaces absent from `ent` are
    entities of their own."""
    members: dict = {}
    for s, e in ent.items():
        members.setdefault(e, []).append(s)
    pred = {
        frozenset(p) for grp in members.values() if len(grp) > 1
        for p in itertools.combinations(grp, 2)
    }
    truth = {frozenset(p) for fam in families for p in itertools.combinations(fam, 2)}
    tp = len(pred & truth)
    split = sum(1 for fam in families
                if len({ent.get(s, s) for s in fam}) != 1)
    merged = sum(1 for s in loners if s in ent and len(members[ent[s]]) != 1)
    return {
        "precision": tp / len(pred) if pred else 0.0,
        "recall": tp / len(truth) if truth else 0.0,
        "families_split": split,
        "loners_merged": merged,
    }


def pair_set(rows) -> set[tuple]:
    """Linked pairs as comparable tuples (scores rounded: the batch and
    streaming paths sum the same terms in different orders)."""
    return {
        (r["surface_a"], r["surface_b"], round(r["jaccard"], 4), round(r["cosine"], 4))
        for r in rows
    }
