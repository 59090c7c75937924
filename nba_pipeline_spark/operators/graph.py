"""Iterative graph operators: connected components for near-dup
clustering (pairs -> clusters -> canonical doc), the final step of the
dedup stack the BASELINE north star calls for.

Scale notes (100 TB):
- Min-label propagation converges in O(graph diameter) rounds; near-dup
  clusters are shallow star/clique shapes (chains of transitive dups
  are short), so a handful of rounds suffices in practice. Each round
  is ONE shuffle join (edges x labels on src) plus ONE keyed
  min-aggregation on the node id — both partial-aggregated map-side.
- Lineage is cut every round with localCheckpoint; without it the
  Catalyst plan doubles per iteration and the optimizer may re-derive
  (and re-execute) earlier rounds.
- The symmetric edge list is checkpointed once up front because every
  round re-scans it.
- For adversarially deep graphs (long chains, e.g. web-link graphs, not
  dup pairs) switch to the large-star/small-star algorithm (Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14), which
  converges in O(log^2 n) rounds with the same join+min primitive.

Small graphs: every operator here first pins its loop input (the pair
list, or pagerank's aggregated edges and out-weights) and offers it to
`partitioning.collect_if_small`. At or under `local_rows_max` rows
(default 100k) the rows come back in one job and the loop runs on the
driver (`_cc_local`, `_star_local`, `_pagerank_local`), replaying the
Spark rounds exactly: same round count, same convergence verdict, same
rounded arithmetic. Above it the Spark rounds run as described above.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Context, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions.vectors import sql_ident
from .partitioning import collect_if_small, rows_frame


def _comp_schema(node: StructField) -> StructType:
    """(node, comp) result schema of both CC variants, typed as `node`."""
    return StructType([
        StructField("node", node.dataType, node.nullable),
        StructField("comp", node.dataType, node.nullable),
    ])


def _cc_local(pairs: list, max_iter: int) -> tuple[list | None, int]:
    """Min-label propagation on the driver, round-synchronous exactly as
    the Spark loop in `connected_components` (every node takes the min
    of its own and its neighbours' PREVIOUS labels), so the round count
    and the non-convergence verdict are the same. Returns ((node, comp)
    rows, or None when `max_iter` rounds did not converge; rounds run)."""
    sym = set()
    comp = {}
    for a, b in pairs:
        sym.add((a, b))
        sym.add((b, a))
        comp[a] = a
        comp[b] = b
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        new = dict(comp)
        for s, d in sym:
            if comp[s] < new[d]:
                new[d] = comp[s]
        if new == comp:
            return list(comp.items()), rounds
        comp = new
    return None, rounds


def _star_local(pairs: list, max_iter: int) -> tuple[list | None, int]:
    """Large-star then small-star on the driver, one round per round of
    the Spark loop in `connected_components_star` (same oriented
    big -> small edge sets, same set-equality fixpoint). Returns
    ((node, comp) rows or None when not converged, rounds run)."""
    nodes = dict.fromkeys(x for p in pairs for x in p)
    e = {(max(u, v), min(u, v)) for u, v in pairs if u != v}
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        g = list(e) + [(v, u) for u, v in e]
        m = {}
        for u, v in g:
            if u not in m or v < m[u]:
                m[u] = v
        large = [(v, min(m[u], u)) for u, v in g if v > u]
        ms = {}
        for u, v in large:
            if u not in ms or v < ms[u]:
                ms[u] = v
        new = {(v, ms[u]) for u, v in large if v != ms[u]} | set(ms.items())
        if new == e:
            comp: dict = {}
            for u, v in e:
                comp.setdefault(u, []).append(v)
            return [(x, c) for x in nodes for c in comp.get(x, (x,))], rounds
        e = new
    return None, rounds


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Label every node of the undirected graph `edges` with the
    minimum node id reachable from it. Returns (node, comp). NULL
    endpoints are dropped (an edge to NULL identifies nothing —
    matches SQL equi-join semantics on the pair generators).
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        # pin BEFORE the symmetric union: both union branches reference
        # this subtree, and un-pinned the whole upstream pair pipeline
        # (e.g. simhash banding + verify) executes TWICE (measured
        # 12.3 s -> 5.6 s edge prep at sf0.1)
        .localCheckpoint(eager=True)
    )
    # lazy from here down (r12, guide §1.3): each checkpoint cuts the SQL
    # plan at the call. Under adaptive execution the call also runs every
    # shuffle stage of its plan; only the final stage is left to the next
    # action that reads it (the convergence probe's join reads EVERY
    # partition), so no separately scheduled job per checkpoint. Only the
    # raw pin above stays eager: its upstream (e.g. minhash banding) is
    # expensive and two lazy consumers racing in one job could compute
    # it twice.
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # driver-local tier (partitioning.collect_if_small): a provably tiny
    # pair list is collected in one job and propagated on the driver
    local = collect_if_small(e)
    if local is not None:
        rows, rounds = _cc_local(local, max_iter)
        converged = rows is not None
        if converged:
            comp = rows_frame(e.sparkSession, rows, _comp_schema(sym.schema["src"]))
    else:
        e = sym.distinct().localCheckpoint(eager=False)
        comp = (
            e.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("comp", F.col("node"))
            .localCheckpoint(eager=False)
        )
        converged = False
        rounds = 0
        for _ in range(max_iter):
            rounds += 1
            msgs = e.join(comp, e["src"] == comp["node"]).select(
                e["dst"].alias("node"), F.col("comp")
            )
            new = (
                comp.union(msgs)
                .groupBy("node")
                .agg(F.min("comp").alias("comp"))
                .localCheckpoint(eager=False)
            )
            changed = (
                new.alias("n")
                .join(comp.alias("c"), "node")
                .where(F.col("n.comp") != F.col("c.comp"))
                .limit(1)
                .count()
            )
            comp = new
            if changed == 0:
                converged = True
                break
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        # returning the partial labeling would silently split one
        # component into several — a WRONG dedup answer, not a slow one
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds the iteration budget) — use "
            "connected_components_star (O(log n) rounds) for deep graphs"
        )
    return comp


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log n) rounds on ANY graph shape, vs min-label
    propagation's O(diameter). Use this for deep graphs (web-link
    chains, citation paths); `connected_components` stays the default
    for near-dup clusters, whose diameter is small and whose per-round
    constant is lower.

    Both stars are expressed as ONE groupBy (per-node min neighbor —
    map-side partial, no collect_list, so a hot node never materializes
    its neighborhood in a row) plus ONE equi-join back to the edge
    list:

    - large-star: every neighbor v > u repoints to
      m(u) = min(N(u) ∪ {u}) — neighborhoods taken over the
      SYMMETRIZED edge set;
    - small-star: edges oriented to the larger endpoint; every
      neighbor v < u (all are, after orientation) plus u itself
      repoints to m(u) = min(N(u)).

    Fixpoint = the small-star output is a star forest pointing each
    node at its component minimum (checked with one subtract-count per
    round, same convergence probe as min-label). Lineage is cut per
    round with localCheckpoint. Raises after `max_iter` rounds without
    convergence — at ~⌈log₂ n⌉ + c expected rounds, hitting 20 means
    the input is pathological, not slow.

    Returns (node, comp) for every non-NULL node incident to an edge,
    self-loops included (a self-loop names the node), matching
    `connected_components` exactly.
    """
    # pin the RAW pair list before deriving nodes/edges: both derive
    # from this subtree, and un-pinned the whole upstream pair pipeline
    # (e.g. minhash banding + verify) executes TWICE — the same lesson
    # connected_components encodes above (measured there 12.3 s ->
    # 5.6 s edge prep at sf0.1; here 0.97 s + 0.52 s -> one ~0.5 s
    # materialization + two cheap cached scans — r12, guide §2.4)
    raw = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .localCheckpoint(eager=True)
    )
    # every incident node is a row in the result, even self-loop-only
    # nodes whose edges the u != v filter below discards. Scanned
    # exactly once (the final left join) — no checkpoint needed, the
    # distinct recomputes from raw's cached blocks.
    nodes = (
        raw.select(F.col("u").alias("node"))
        .union(raw.select(F.col("v").alias("node")))
        .distinct()
    )
    # driver-local tier (partitioning.collect_if_small): a provably tiny
    # pair list is collected in one job and starred on the driver
    local = collect_if_small(raw)
    if local is not None:
        rows, rounds = _star_local(local, max_iter)
        converged = rows is not None
        if converged:
            comp = rows_frame(
                raw.sparkSession, rows, _comp_schema(nodes.schema["node"])
            )
    else:
        # canonical big -> small orientation (small-star form). Lazy
        # checkpoint: under adaptive execution the call runs the distinct's
        # shuffle stage, and the prev_n count below runs the final stage
        # and materializes it in the same job (r12).
        e = (
            raw.filter(F.col("u") != F.col("v"))
            .select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct()
            .localCheckpoint(eager=False)
        )

        def _large(ed: DataFrame) -> DataFrame:
            g = ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
            mins = g.groupBy("u").agg(F.min("v").alias("__mv")).select(
                "u", F.least(F.col("__mv"), F.col("u")).alias("m")
            )
            # NO distinct here: duplicate edges are harmless to _small's
            # min-aggregation and its final distinct collapses them — one
            # fewer shuffle per round
            return (
                g.join(mins, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .filter(F.col("u") != F.col("v"))
            )

        def _small(ed: DataFrame) -> DataFrame:
            g = ed.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            mins = g.groupBy("u").agg(F.min("v").alias("m"))
            return (
                g.join(mins, "u")
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .union(mins.select("u", F.col("m").alias("v")))
                .distinct()
            )

        converged = False
        rounds = 0
        prev_n = e.count()
        for _ in range(max_iter):
            rounds += 1
            # lazy checkpoint: under adaptive execution the call runs the
            # round's shuffle stages; the final stage rides the
            # convergence probe's action, so it and the probe are ONE job
            # instead of an eager-checkpoint job + a probe job (r12,
            # guide §1.3)
            new = _small(_large(e)).localCheckpoint(eager=False)
            # fixpoint when the oriented edge sets are identical: cheap
            # necessary condition first (row counts); only on a count match
            # run the exact set compare, as ONE union+groupBy job instead of
            # two subtract anti-joins. Both inputs are distinct, so a row
            # with count 1 is in exactly one set — zero such rows == sets
            # identical.
            n = new.count()
            if n == prev_n:
                diff = (
                    new.union(e)
                    .groupBy("u", "v")
                    .agg(F.count(F.lit(1)).alias("__c"))
                    .filter(F.col("__c") == 1)
                    .limit(1)
                    .count()
                )
                if diff == 0:
                    converged = True
                    e = new
                    break
            prev_n = n
            e = new
        comp_map = e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
        comp = nodes.join(comp_map, "node", "left").select(
            "node", F.coalesce("comp", "node").alias("comp")
        )
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds — expected O(log n); check the input for NULL-key "
            "explosion or raise max_iter"
        )
    return comp


def dedup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Turn a near-dup pair list into clusters: (doc_id, cluster_id,
    cluster_size, keep) where cluster_id is the min doc id of the
    component and keep=1 marks the canonical survivor."""
    comp = connected_components(pairs, id_a, id_b)
    sizes = comp.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return comp.join(sizes, "comp").select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        F.col("cluster_size"),
        F.when(F.col("node") == F.col("comp"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("keep"),
    )


_Q12 = Decimal("1e-12")
_DEC38 = Context(prec=38)  # DECIMAL(38,12)'s digit budget


def _dec12(x: float) -> Decimal:
    """Spark's CAST(x AS DECIMAL(38,12)) of a double, which is also the
    decimal step of its ROUND(x, 12): BigDecimal(Double.toString(x)) at
    scale 12, HALF_UP. Python's repr is the same shortest round-trip
    digit string (pinned against F.round over seeded doubles in
    tests/test_fanin.py)."""
    return Decimal(repr(x)).quantize(_Q12, ROUND_HALF_UP, _DEC38)


def _double(d: Decimal) -> float:
    """Spark's decimal -> double cast (correctly rounded). `+ 0.0` folds
    Python's -0 into +0: a Spark decimal has no negative zero."""
    return float(d) + 0.0


def _round12(x: float) -> float:
    """Spark's ROUND(x, 12) on a double (NaN and infinities pass)."""
    return _double(_dec12(x)) if math.isfinite(x) else x


def _pagerank_local(rows: list, iterations: int, damping: float) -> list:
    """`pagerank`'s power iteration on the driver over its collected
    (src, dst, w, per_src) rows, replaying the Spark loop's arithmetic
    step for step: same double expressions in the same order, the same
    12-dp rounding points, contributions summed as exact decimals and
    cast to double where the Spark plan casts. A per_src row's w is
    Spark's own out-weight sum, so the one order-dependent float sum is
    not redone here. Returns (node, rank) rows."""
    edge_rows = [r for r in rows if not r[3]]
    nodes = dict.fromkeys(x for r in edge_rows for x in (r[0], r[1]))
    n = len(nodes)
    if n == 0:
        return []
    nf = float(n)
    out_w = dict.fromkeys(nodes, 0.0)
    for r in rows:
        if r[3] and r[2] is not None:
            out_w[r[0]] = r[2]
    # a NULL weight contributes NULL, which SUM skips
    edges = [r[:3] for r in edge_rows if r[2] is not None]
    dangling = [v for v in nodes if out_w[v] == 0]
    base = _round12((1.0 - damping) / nf)
    rank = dict.fromkeys(nodes, _round12(1.0 / nf))
    for _ in range(iterations):
        cs: dict = {}
        for s, d, w in edges:
            c = _dec12(_round12(rank[s] * w / out_w[s]))
            cs[d] = cs[d] + c if d in cs else c
        dm = (
            _double(sum(_dec12(_round12(rank[v] / nf)) for v in dangling))
            if dangling else 0.0
        )
        rank = {
            v: _round12(base + damping * ((_double(cs[v]) if v in cs else 0.0) + dm))
            for v in nodes
        }
    return list(rank.items())


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Weighted PageRank with a FIXED iteration count, engine-
    deterministically. Returns (node, rank) after ``iterations`` power
    steps of rank' = (1-d)/N + d*(in-contributions + dangling/N).

    Determinism contract (the part that makes an iterative float
    algorithm oracle-checkable): every per-edge contribution is rounded
    to 12dp and accumulated AS DECIMAL — exact, order-independent —
    and each iteration's rank is again a rounded quantity, so by
    induction the fixed point of round-trip arithmetic is identical on
    any engine/partitioning. Rounding at 12dp leaves ~8 significant
    digits of headroom over the 4dp the callers compare at.

    Scale shape (the published Pregel/GraphX layout as plain joins):
    per iteration ONE shuffle join (edges x ranks on src — co-locate by
    pre-partitioning both on src at 100 TB, or bucket the edge lake) and
    ONE keyed sum on dst (map-side partials). Degrees are computed once
    up front; lineage is cut per iteration with localCheckpoint exactly
    like connected_components; dangling mass is a 1-row aggregate
    crossed back in (broadcast). Node count N is a driver scalar — the
    only collect, O(1) rows.

    When the aggregated edges and their sources' out-weight rows number
    at most `local_rows_max` in all, they are instead collected once and
    iterated on the driver by `_pagerank_local` in the same arithmetic —
    the determinism contract above is what makes the two bit-identical.
    """
    w = f"CAST({sql_ident(weight)} AS DOUBLE)" if weight else "1.0D"
    # One grouping-sets aggregation, one shuffle: each (src, dst) row
    # holds the edge's summed weight, and each per_src row (dst NULL)
    # holds that source's out-weight. The local tier's size probe
    # collects this pinned frame and the wide path's deg reads the same
    # per_src rows, so both paths iterate over one Spark-computed
    # out-weight. Under adaptive execution even this lazy
    # localCheckpoint runs every shuffle stage of its plan at the call;
    # only the final stage rides the next action (the probe's collect,
    # or nodes.count on the wide path).
    e = (
        edges.selectExpr(
            f"{sql_ident(src)} AS src", f"{sql_ident(dst)} AS dst", f"{w} AS w"
        )
        .where("src IS NOT NULL AND dst IS NOT NULL")
        .groupingSets([["src", "dst"], ["src"]], "src", "dst")
        .agg(F.expr("sum(w) AS w"), F.expr("grouping(dst) = 1 AS per_src"))
        .localCheckpoint(eager=False)
    )
    arcs = e.where("NOT per_src")
    nodes = arcs.selectExpr("explode(array(src, dst)) AS node")
    # driver-local tier (partitioning.collect_if_small): a provably tiny
    # pinned frame is collected in one job and iterated on the driver in
    # the same arithmetic
    local = collect_if_small(e)
    if local is not None:
        return rows_frame(
            e.sparkSession,
            _pagerank_local(local, iterations, damping),
            StructType([nodes.schema["node"], StructField("rank", DoubleType())]),
        )
    nodes = nodes.distinct().localCheckpoint(eager=False)
    n = nodes.count()
    if n == 0:
        return nodes.selectExpr("node", "0.0D AS rank")
    deg = (
        nodes.join(e.where("per_src").selectExpr("src AS node", "w AS out_w"), "node", "left")
        .selectExpr("node", "coalesce(out_w, 0.0D) AS out_w")
        .localCheckpoint(eager=False)
    )

    # base and the uniform init are rounded by the ENGINE's ROUND (not
    # Python's banker's rounding) so the oracle's SQL ROUND replays them
    nf, d = f"{float(n)!r}D", f"{float(damping)!r}D"
    ranks = deg.selectExpr("node", "out_w", f"round(1.0D / {nf}, 12) AS rank")
    # dangling-mass structure probe (r12, guide §2.4): whether any
    # node has zero out-weight is a property of the GRAPH, not of
    # the ranks — when none does, every iteration's dangling
    # aggregate is exactly the empty sum (coalesce -> decimal 0 ->
    # +0.0, bit-identical), so one upfront limit(1) probe replaces
    # `iterations` broadcast-aggregate builds over the rank table.
    # Graphs with dangling nodes keep the per-iteration aggregate
    # (its input changes every step).
    has_dangling = deg.where("out_w = 0").limit(1).count() > 0
    for _ in range(iterations):
        contrib = (
            arcs.join(ranks, F.expr("src = node"))
            .selectExpr("dst", "CAST(round(rank * w / out_w, 12) AS DECIMAL(38,12)) AS c")
            .groupBy("dst")
            .agg(F.expr("sum(c) AS cs"))
        )
        nxt = deg.join(contrib, F.expr("node = dst"), "left")
        dm = "0.0D"
        if has_dangling:
            dangling = ranks.where("out_w = 0").selectExpr(
                f"coalesce(sum(CAST(round(rank / {nf}, 12) AS DECIMAL(38,12))),"
                " CAST(0 AS DECIMAL(38,12))) AS dm"
            )
            nxt, dm = nxt.crossJoin(F.broadcast(dangling)), "CAST(dm AS DOUBLE)"
        ranks = (
            nxt.selectExpr(
                "node",
                "out_w",
                f"round(round((1.0D - {d}) / {nf}, 12)"
                f" + {d} * (coalesce(CAST(cs AS DOUBLE), 0.0D) + {dm}), 12) AS rank",
            )
            # lazy: under adaptive execution the call runs this
            # iteration's shuffle and broadcast stages; only the final
            # stage rides iteration k+1's dangling-broadcast build (or
            # the caller's action for the last one), not a job of its own
            # (r12, guide §1.3)
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", "rank")
