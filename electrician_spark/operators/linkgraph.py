"""Link-graph centrality — PageRank over an edge DataFrame.

Modern crawl-curation pipelines (Common Crawl's ranked host lists,
C4/RefinedWeb-descendant domain filters) gate documents on a
link-graph authority score: pages/domains that the rest of the web
points at are kept preferentially, spam islands score near the
teleport floor. This module computes that signal with plain
DataFrame iteration — the power-method PageRank (Brin & Page 1998)
with damped teleport and dangling-mass redistribution.

Reference parity: the reference engine has no graph stage — this
belongs to the LLM-training-data battery (SURVEY §6) alongside the
URL/domain curation operators (functions/url.py) it feeds: compute
ranks over the host graph, broadcast-join them onto the corpus as a
quality feature.

Spark-first design (one shuffle pair per iteration, nothing else):

- **Static prep, once**: out-degrees (groupBy(src).count(), map-side
  combinable) are joined onto the edge list a single time; the
  resulting (src, dst, deg) table is ``localCheckpoint``-ed so every
  iteration rescans a materialized, lineage-free table instead of
  re-running the degree join. N (node count) and the dangling-node
  set are computed once.
- **Per iteration**: ranks ⋈ edges on src (shuffle hash join; AQE
  skew-join splits hub sources), then groupBy(dst).sum — partial
  aggregation collapses contributions per input partition before the
  shuffle, so hub DESTINATIONS (the skew that kills naive
  implementations — everyone links to the same few hosts) carry one
  row per (partition, dst), not one per in-link.
- **Dangling mass** (nodes with no out-edges — rank sinks): their
  total rank is a single float per iteration, computed with one
  bounded scalar aggregate and folded into every node's base term —
  the standard redistribution that keeps ranks a probability
  distribution (Σ rank = 1, pinned in tests).
- **Lineage control**: ranks are ``localCheckpoint``-ed every
  iteration — the dangling-mass scalar forces one action per round
  regardless, and materializing then makes each round's work exactly
  one join+agg over cached inputs; an unmaterialized chain would
  re-derive all previous rounds per action (O(k²) recompute — caught
  and pinned by ``git show 2aba643:tools/pagerank_probe.py``, which
  measured a 7× blow-up at 16× nodes before the fix). Production swaps localCheckpoint for
  ``checkpoint`` on a cluster-visible directory (executor loss
  safety); localCheckpoint keeps the local[32] tests hermetic.

100 TB posture: per-iteration cost is one edge-table scan + one
shuffle of (dst, partial-sum) rows — linear in |E| with constant
rounds (power iteration converges geometrically at rate =
``damping``; 10–20 rounds is the published operating range). No
driver state beyond two scalars (N, dangling mass). Node IDs are
never collected.

Determinism: float64 throughout; partition-order summation drift is
~1e-15 per iteration and the final ranks are rounded to ``round_dp``
at the API edge (the repo-wide cross-engine float contract), so the
operator replays exactly in DuckDB as chained per-iteration CTEs —
pinned in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    iterations: int = 10,
    round_dp: int = 6,
) -> DataFrame:
    """Damped PageRank with dangling-mass redistribution.

    ``edges`` is a (src, dst) DataFrame (duplicate edges count with
    multiplicity — pre-``distinct()`` if the graph is simple). The
    node set is the union of both endpoint columns. Returns
    (``node``, ``rank``) with rank rounded to ``round_dp``;
    Σ rank = 1 up to rounding.

    Update rule per iteration (standard power method):

        rank'(v) = (1−d)/N + d·( Σ_{u→v} rank(u)/deg(u) + D/N )

    where D = Σ rank(u) over dangling u (deg(u) = 0). Deterministic
    given (edges, damping, iterations) — no RNG anywhere.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    src, dst = F.col(src_col), F.col(dst_col)

    nodes = (
        edges.select(src.alias("node"))
        .union(edges.select(dst.alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))

    deg = edges.groupBy(src.alias("node")).agg(F.count("*").alias("deg"))
    # (src, dst, deg) — the table every iteration scans; cached once on
    # first use (lazy checkpoint: truncates lineage immediately,
    # materializes inside the terminal action instead of as its own
    # driver-blocking job).
    edges_deg = (
        edges.select(src.alias("_src"), dst.alias("_dst"))
        .join(deg.withColumnRenamed("node", "_src"), "_src")
        .localCheckpoint(eager=False)
    )
    dangling = nodes.join(
        deg, "node", "left_anti"
    ).localCheckpoint(eager=False)  # rank sinks: no out-edges

    base = (1.0 - damping) / n_nodes
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes)).localCheckpoint(eager=False)

    for _ in range(iterations):
        # Total rank parked on dangling nodes this round — kept IN THE
        # PLAN as a one-row broadcast joined onto every node (the
        # sanctioned single-row bounds-join shape), instead of the
        # pre-r15 `.first()[0]` driver collect. That collect forced two
        # driver barriers per iteration (scalar fetch + eager
        # checkpoint); folding it lets all k rounds run inside ONE
        # terminal action (r15: 39→~13 jobs, 1.48→1.20 s median at
        # sf0.1 interleaved, rounded ranks bit-identical; guide §5 "the
        # driver should do almost no data work").
        d_mass = (
            ranks.join(dangling.select("node"), "node")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        )
        contrib = (
            edges_deg.join(
                ranks.withColumnRenamed("node", "_src"), "_src"
            )
            .groupBy(F.col("_dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("inflow"))
        )
        # Each round still truncates lineage (lazy checkpoint): an
        # unmaterialized chain would make later rounds re-derive all
        # previous rounds — O(k²) recompute that the 16× scaling probe
        # measured as a 7× blow-up before this pin
        # (`git show 2aba643:tools/pagerank_probe.py`). Lazy keeps the
        # truncation while deferring materialization to the terminal
        # action, where each round's blocks are computed once and reused
        # by round k+1.
        ranks = (
            nodes.join(contrib, "node", "left")
            .join(F.broadcast(d_mass), F.lit(1) == F.lit(1))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("_dm") / F.lit(float(n_nodes))
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )

    return ranks.select("node", F.round("rank", round_dp).alias("rank"))


def domain_authority(
    docs_with_urls: DataFrame,
    src_url_col: str = "url",
    dst_url_col: str = "href",
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """Host-level authority from a (page URL, outbound href) table —
    the crawl-curation composition: registrable-domain-ify both
    endpoints (functions/url.py heuristics), drop self-loops, dedupe
    to a simple host graph, PageRank it. Returns (domain, rank).

    One extra shuffle over :func:`pagerank` (the edge distinct);
    everything else inherits its posture."""
    from electrician_spark.functions.url import registered_domain, url_host

    def _dom(c):
        return registered_domain(url_host(c))

    e = (
        docs_with_urls.select(
            _dom(F.col(src_url_col)).alias("src"),
            _dom(F.col(dst_url_col)).alias("dst"),
        )
        .filter(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        .distinct()
    )
    return pagerank(
        e, damping=damping, iterations=iterations
    ).withColumnRenamed("node", "domain")
