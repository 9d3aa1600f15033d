"""SPARQL-style basic-graph-pattern (BGP) matching over the edges table.

Once the KG is materialized (plans/materialize.build_edges), the query a
downstream consumer actually asks is a conjunctive triple pattern —
"?x per_loc ?c . ?y per_loc ?c . ?x org_per ?y" — not a raw DataFrame
join.  The reference engine has no counterpart (it stops at NER/eval
output files); this is a beyond-reference KG query capability built as
pure DataFrame composition so Catalyst plans it.

Semantics (SPARQL BGP over a duplicate-free triple store):

- a pattern term is a variable (``"?name"``) or a constant: an ``int``
  matches the entity-id column, any other string matches the predicate
  column (for the ``p`` slot) or the literal ``obj_text`` (for the ``o``
  slot — declared-knowledge objects are literals with ``obj_id`` null);
- each pattern is one scan of ``edges`` with its constants pushed down
  as filters (at real scale these reach the parquet scan as
  PushedFilters — the whole point of compiling to filters, not UDFs);
- shared variables become equi-join keys; a variable repeated INSIDE a
  single pattern becomes a within-row equality filter;
- the result has one column per variable, bound to entity ids (or the
  predicate string / literal text for p/literal-o slot variables).
  Because the edge table is duplicate-free by construction
  (aggregate_triples groups by key), full-projection bindings are
  distinct without a dedup pass; ``select_vars`` projections apply an
  explicit ``distinct()`` (SPARQL ``SELECT DISTINCT``).

Join planning: patterns are ordered greedily — most constants first,
then repeatedly the pattern sharing at least one already-bound variable
(ties: more constants, then input order), so every join after the first
is an equi-join on bound variables and cartesian products only happen
for genuinely disconnected patterns (allowed, but last).  Selective
leaves stay tiny after their pushed filters, so AQE broadcasts them at
runtime — no hints, matching the repo-wide unhinted-join policy.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .linking import _checkpoint

_SLOTS = ("s", "p", "o")
# edge-table column each pattern slot binds to (o falls back to obj_text
# for literal constants / literal-variable binding is id-first, see below)
_ID_COL = {"s": "subj_id", "p": "pred", "o": "obj_id"}


def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


# operators whose presence in the ANALYZED plan (metadata-only — nothing
# executes) marks the input as expensive to re-execute per consumer: each
# pattern leaf is a separate consumer of `edges`, and an unmaterialized
# DataFrame DAG fork re-runs the shared subtree per consumer (the CLAUDE.md
# multi-consumer trap).  A plain table/parquet scan, projections and filters
# re-scan cheaply (and push filters down), so those stay lazy.
_EXPENSIVE_NODES = (
    "Join",
    "Aggregate",
    "Window",
    "Generate",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "Distinct",
    "Deduplicate",
)


def _maybe_checkpoint(
    df: DataFrame, source: DataFrame, force: bool | None, n_consumers: int
) -> DataFrame:
    """Materialize ``df`` exactly once when ``source``'s plan is expensive
    and ``df`` is about to be consumed ``n_consumers`` > 1 times."""
    if force is False or n_consumers <= 1:
        return df
    if force is None:
        plan = source._jdf.queryExecution().analyzed().toString()
        if not any(tok in plan for tok in _EXPENSIVE_NODES):
            return df
    return _checkpoint(df)


def _narrow_edges(edges: DataFrame, force: bool | None, n_consumers: int) -> DataFrame:
    """The four pattern-relevant columns, materialized per the rule above."""
    narrow = edges.select("subj_id", "pred", "obj_id", "obj_text")
    return _maybe_checkpoint(narrow, edges, force, n_consumers)


def _constants(pattern) -> int:
    return sum(0 if _is_var(t) else 1 for t in pattern)


def _order_patterns(patterns: Sequence[tuple]) -> list[tuple]:
    """Greedy join order: seed with the most-constant pattern, then keep
    choosing a pattern that shares a bound variable (most shared, then
    most constants, then input order).  Disconnected components join
    last (cross product — the only correct meaning)."""
    remaining = list(enumerate(patterns))
    remaining.sort(key=lambda ip: (-_constants(ip[1]), ip[0]))
    ordered = [remaining.pop(0)]
    bound = {t for t in ordered[0][1] if _is_var(t)}
    while remaining:
        best = None
        for j, (i, pat) in enumerate(remaining):
            shared = sum(1 for t in pat if _is_var(t) and t in bound)
            key = (-shared, -_constants(pat), i)
            if best is None or key < best[0]:
                best = (key, j)
        _, j = best
        ordered.append(remaining.pop(j))
        bound |= {t for t in ordered[-1][1] if _is_var(t)}
    return [pat for _, pat in ordered]


def _pattern_leaf(edges: DataFrame, pattern: tuple) -> tuple[DataFrame, dict]:
    """One filtered+projected scan per pattern; returns (df, var->col).

    Variable columns are renamed to the variable name (sans '?') so the
    joins upstream are plain column-name equi-joins.  An ``o`` variable
    binds ``obj_id`` when the object is an entity and ``obj_text`` when
    it is a literal — surfaced as a string column ``coalesce(cast(obj_id
    as string), obj_text)`` so one variable can range over both, exactly
    like an RDF term position.
    """
    s, p, o = pattern
    df = edges
    if not _is_var(s):
        df = df.filter(F.col("subj_id") == int(s))
    if not _is_var(p):
        # predicate alternation (SPARQL `p1|p2`): a list/tuple/set constant
        if isinstance(p, (list, tuple, set, frozenset)):
            df = df.filter(F.col("pred").isin(*[str(x) for x in p]))
        else:
            df = df.filter(F.col("pred") == str(p))
    if not _is_var(o):
        if isinstance(o, int):
            df = df.filter(F.col("obj_id") == o)
        else:  # literal constant matches declared-knowledge objects
            df = df.filter(F.col("obj_id").isNull() & (F.col("obj_text") == str(o)))
    cols, seen = [], {}
    for slot, term in zip(_SLOTS, pattern):
        if not _is_var(term):
            continue
        name = term[1:]
        if slot == "s":
            expr = F.col("subj_id").cast("string")
        elif slot == "p":
            expr = F.col("pred")
        else:
            expr = F.coalesce(F.col("obj_id").cast("string"), F.col("obj_text"))
        if name in seen:  # repeated variable inside one pattern
            df = df.filter(expr == seen[name])
        else:
            seen[name] = expr
            cols.append(expr.alias(name))
    return df.select(*cols), seen


def _eval_conjunction(base: DataFrame, pats: Sequence[tuple]) -> DataFrame:
    """Join-plan and evaluate one conjunctive pattern group."""
    out = None
    for pat in _order_patterns(list(pats)):
        leaf, _ = _pattern_leaf(base, pat)
        if out is None:
            out = leaf
            continue
        shared = [c for c in leaf.columns if c in out.columns]
        out = out.join(leaf, on=shared) if shared else out.crossJoin(leaf)
    return out


def match_bgp(
    edges: DataFrame,
    patterns: Iterable[tuple],
    select_vars: Sequence[str] | None = None,
    materialize: bool | None = None,
    optional: Sequence[Iterable[tuple]] | None = None,
    not_exists: Sequence[Iterable[tuple]] | None = None,
) -> DataFrame:
    """Evaluate a conjunctive triple pattern; one column per variable.

    ``patterns``: iterable of (s, p, o) terms per the module docstring.
    ``select_vars``: optional projection (names WITHOUT '?'); applies
    SELECT DISTINCT semantics.  All binding columns are strings (entity
    ids rendered in decimal) so id- and literal-valued variables unify.
    ``materialize``: each pattern scans ``edges`` once; when the input is
    a lazy pipeline (joins/aggregates/Arrow UDFs upstream) those scans
    would re-EXECUTE it per pattern, so the narrow projection is
    checkpointed once (None = auto-detect from the analyzed plan; True /
    False force).  Table-backed edges stay lazy: per-pattern scans with
    pushed-down constant filters are exactly the plan you want there.

    ``optional``: SPARQL OPTIONAL groups — each entry is a pattern group
    evaluated as its own conjunction and LEFT-joined on the variables it
    shares with the required bindings (optional-only variables come back
    null when the group does not match).  The WELL-DESIGNED subset: an
    optional group must share at least one variable with the required
    part, and optional-only variables must not recur across groups —
    both raise, rather than silently diverging from SPARQL semantics.

    ``not_exists``: SPARQL ``FILTER NOT EXISTS`` groups — bindings with a
    match in the group are dropped via a LEFT ANTI join on the shared
    variables (a group sharing no variable would be a constant emptiness
    test; it raises instead).

    A predicate slot may also be a list/tuple/set of predicate strings —
    SPARQL alternation ``p1|p2`` — pushed down as an IN filter.
    """
    pats = [tuple(p) for p in patterns]
    opt_groups = [[tuple(p) for p in g] for g in (optional or [])]
    anti_groups = [[tuple(p) for p in g] for g in (not_exists or [])]
    if not pats:
        raise ValueError("empty pattern list")
    for pat in pats + [p for g in opt_groups + anti_groups for p in g]:
        if len(pat) != 3:
            raise ValueError(f"pattern must be (s, p, o): {pat!r}")
        if not any(_is_var(t) for t in pat) and len(pats) > 1:
            # constant-only patterns are ASK-shaped; allowed alone only
            raise ValueError(f"constant-only pattern in a multi-pattern BGP: {pat!r}")
    n_scans = len(pats) + sum(len(g) for g in opt_groups + anti_groups)
    base = _narrow_edges(edges, materialize, n_scans)
    out = _eval_conjunction(base, pats)
    seen_optional_vars: set[str] = set()
    for group in opt_groups:
        g = _eval_conjunction(base, group)
        # variables a PREVIOUS optional group introduced look "shared"
        # with `out` once joined — check recurrence against the tracked
        # optional-only set FIRST, not against out's columns
        clash = set(g.columns) & seen_optional_vars
        if clash:
            raise ValueError(
                f"optional-only variable(s) {sorted(clash)} recur across "
                "groups — outside the well-designed subset"
            )
        shared = [c for c in g.columns if c in out.columns]
        if not shared:
            raise ValueError(f"OPTIONAL group shares no variable: {group!r}")
        seen_optional_vars |= set(g.columns) - set(shared)
        out = out.join(g, on=shared, how="left")
    for group in anti_groups:
        g = _eval_conjunction(base, group)
        shared = [c for c in g.columns if c in out.columns]
        if not shared:
            raise ValueError(f"NOT EXISTS group shares no variable: {group!r}")
        out = out.join(g.select(*shared), on=shared, how="left_anti")
    if select_vars is not None:
        out = out.select(*select_vars).distinct()
    return out


def reachable(
    edges: DataFrame,
    pred: str | Sequence[str] | None,
    sources: DataFrame,
    max_hops: int,
    materialize: bool | None = None,
) -> DataFrame:
    """Bounded transitive closure (SPARQL property path ``pred{1,k}``;
    a list/tuple ``pred`` is the alternation path ``(p1|p2){1,k}``):
    (src, node, hops) for every entity reachable from ``sources``
    (one column ``src`` of entity ids) in 1..max_hops edges, keeping the
    MINIMUM hop count per (src, node).

    Scale shape: BFS frontier expansion, one equi-join per hop over the
    (subj_id, obj_id) projection — never materializing paths.  The
    frontier is checkpointed each hop (O(reached nodes), not
    O(edges)) so the lazy plan does not re-execute the prefix per
    iteration — the same fix shape as links.pagerank.  Frontier rows
    already seen at a lower hop are anti-joined away, so the loop
    terminates as soon as the frontier empties even when max_hops is
    large.
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    step = edges.filter(F.col("obj_id").isNotNull())
    if isinstance(pred, (list, tuple, set, frozenset)):
        step = step.filter(F.col("pred").isin(*[str(x) for x in pred]))
    elif pred is not None:
        step = step.filter(F.col("pred") == pred)
    step = step.select(F.col("subj_id").alias("node"), F.col("obj_id").alias("nxt"))
    # every hop joins `step` again — one consumer PER HOP, so the same
    # auto-materialize rule as match_bgp applies (a table-backed step is
    # a cheap 2-int-column re-scan with the pred filter pushed down; a
    # lazy pipeline is not); checkpoint AFTER the filters so only the
    # matching edge projection materializes
    step = _maybe_checkpoint(step, edges, materialize, n_consumers=max_hops)
    frontier = sources.select(F.col("src").cast("long"), F.col("src").cast("long").alias("node"))
    reached = None  # (src, node, hops)
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(step, "node")
            .select("src", F.col("nxt").alias("node"))
            .distinct()
        )
        if reached is not None:
            nxt = nxt.join(reached.select("src", "node"), ["src", "node"], "left_anti")
        nxt = _checkpoint(nxt)
        if nxt.isEmpty():
            break
        got = nxt.withColumn("hops", F.lit(hop))
        reached = got if reached is None else reached.unionByName(got)
        frontier = nxt
    if reached is None:
        return sources.sparkSession.createDataFrame(
            [], "src long, node long, hops int"
        )
    return reached
