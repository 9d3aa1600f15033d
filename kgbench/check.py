"""Correctness checks: table fingerprints, triple precision/recall
against the Python oracle, nodes against their mentions, and the hygiene
pass against the generator's expected survivors."""

from __future__ import annotations

import re
from collections import Counter, defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# nodes.type is max_by(type, n_mentions) over a component's surface forms.
# When two surface forms of different dominant types tie on mention count,
# Spark leaves the pick to row order, so it can change between builds of
# the same pages.  Fingerprints compare every other column exactly;
# node_errors checks each type against the picks the tie allows.
LOOSE = {"nodes": ("type",)}


def fingerprint(df: DataFrame, loose=()) -> tuple[int, int, int]:
    """(row count, bit_xor of xxhash64 over every column except ``loose``,
    the same over every column).

    Hashing every column keeps every output expression live, so this
    also forces the table's full computation.  Array columns are sorted
    first: ``nodes.aliases`` is a set whose element order Spark does not
    define.
    """
    cols = [
        F.array_sort(F.col(f.name)).alias(f.name)
        if isinstance(f.dataType, T.ArrayType)
        else F.col(f.name)
        for f in df.schema.fields
    ]
    strict = [F.col(f.name) for f in df.schema.fields if f.name not in loose]
    every = [F.col(f.name) for f in df.schema.fields]
    row = df.select(*cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*strict)), F.lit(0)).alias("h"),
        F.coalesce(F.bit_xor(F.xxhash64(*every)), F.lit(0)).alias("h_all"),
    ).first()
    return int(row.n), int(row.h), int(row.h_all)


def fingerprints(tables: dict) -> dict[str, tuple[int, int, int]]:
    return {k: fingerprint(df, LOOSE.get(k, ())) for k, df in tables.items()}


def same(a: dict, b: dict) -> bool:
    """Fingerprints agree on every row count and every strict hash."""
    return a.keys() == b.keys() and all(a[k][:2] == b[k][:2] for k in a)


def _norm(text: str) -> str:
    """Python twin of ``linking.normalize_text`` for ASCII text."""
    return re.sub(r"[^a-z0-9]+", " ", text.lower()).strip(" ")


def node_errors(nodes: DataFrame, mentions: DataFrame) -> list[str]:
    """Check each node against the mentions of its surface forms:
    ``canonical_text`` is the least alias, ``n_mentions`` their total, and
    ``type`` the dominant type of an alias with the most mentions."""
    per_norm: dict[str, Counter] = defaultdict(Counter)
    for r in mentions.select("text", "type").collect():
        per_norm[_norm(r.text)][r.type] += 1
    bad = []
    for r in nodes.select("canonical_id", "canonical_text", "aliases", "n_mentions", "type").collect():
        n = {a: sum(per_norm[a].values()) for a in r.aliases}
        top = max(n.values())
        allowed = {
            min(per_norm[a].items(), key=lambda kv: (-kv[1], kv[0]))[0]
            for a in r.aliases
            if n[a] == top and per_norm[a]
        }
        if (
            r.canonical_text != min(r.aliases)
            or r.n_mentions != sum(n.values())
            or (allowed and r.type not in allowed)
        ):
            bad.append(r.canonical_id)
    return [f"{len(bad)} nodes disagree with their mentions, e.g. {bad[0]}"] if bad else []


def triple_pr(edges: DataFrame, texts) -> tuple[float, float, int, int]:
    """Precision and recall of the distinct ``(subj_text, pred, obj_text)``
    set of ``edges`` against ``kgce.oracle.page_triples`` over ``texts``
    (the pages that reached tagging).  Returns (P, R, |built|, |oracle|).
    """
    from kgce import oracle

    built = {
        (r.subj_text, r.pred, r.obj_text)
        for r in edges.select("subj_text", "pred", "obj_text").distinct().collect()
    }
    want = {
        (t["subj_text"], t["pred"], t["obj_text"])
        for text in texts
        if text
        for t in oracle.page_triples(text)
    }
    hit = len(built & want)
    p = hit / len(built) if built else 1.0
    r = hit / len(want) if want else 1.0
    return p, r, len(built), len(want)


def hygiene_errors(kept: list[str], survivors: set[str]) -> list[str]:
    """The urls of the cleaned pages ``kept`` must be exactly the
    generator's expected ``survivors``, each once: a pass that keeps a
    duplicate, spam or contaminated page fails, and so does one that
    drops a page it should keep."""
    errs = []
    n = Counter(kept)
    extra = n.keys() - survivors
    if extra:
        errs.append(f"{len(extra)} pages kept that the clean pass should drop, e.g. {min(extra)}")
    missing = survivors - n.keys()
    if missing:
        errs.append(f"{len(missing)} pages dropped that the clean pass should keep, e.g. {min(missing)}")
    repeated = sorted(u for u, c in n.items() if c > 1)
    if repeated:
        errs.append(f"{len(repeated)} urls kept more than once, e.g. {repeated[0]}")
    return errs
