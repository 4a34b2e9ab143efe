"""Taxonomy engine: lineage parsing, closure tables, subtree rollup, LCA.

Reference semantics:
  - lineage split into rank columns: ``separate(std_lineage, sep=";[a-z]__")``
    (postgres.Rmd:180,669,865; code/merge_kraken_tax.R:37,49)
  - subtree rollup: per taxon, sum over the taxon AND all descendants —
    the reference shells out to taxonkit per tax_id and re-sums
    (code/tax_abund_from_contigs.R:72-88); bracken's count_w_subtax column
    carries the same semantic (postgres.Rmd:708).
  - LCA: most-specific common lineage prefix across the hits of a gene/contig
    (code/AnnotateContigs.pl:653-696 MakeLCA; mmseqs --lca-mode 3
    Snakefile:2100-2113).
  - rank-ladder rollup: bracken reports carry one row per rank per taxon
    (K/P/C/O/F/G/S) == GROUP BY ROLLUP over the rank columns (SURVEY §2.4).

Spark-first design:
  The reference's per-taxon taxonkit fan-out (furrr::future_map_dfr, one
  subprocess per taxon) becomes ONE join against a lineage-closure table:
    closure(ancestor, descendant) built by exploding each node's ancestor
    path. |closure| = #nodes × avg_depth (NCBI: ~2.4M × ~8 ≈ 20M rows —
    broadcastable at 64 MB threshold after dictionary-encoding, else a
    shuffle join that AQE handles). Then
      subtree_sum = abundance ⨝ closure ON tax_id = descendant
                    GROUP BY ancestor
  — a single shuffle, no driver loop, no subprocess.

  LCA is an exact aggregate over lineage arrays: the longest common prefix
  of sorted-group lineages equals the common prefix of the lexicographic MIN
  and MAX lineage arrays (classic trick — only two array comparisons per
  group survive the partial aggregation, so the agg is shuffle-light and
  needs no collect_list blowup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RANKS = ["kingdom", "phylum", "class", "order", "family", "genus", "species"]

def parse_lineage(df: DataFrame, lineage_col: str, ranks: list[str] | None = None,
                  sep: str = ";[a-z]__", strip_prefix: bool = True) -> DataFrame:
    """Split a ``d__X;p__Y;...`` lineage string into rank columns + array.

    Keeps the raw string, adds ``lineage_path`` (array) and one column per
    rank (empty→NULL, matching merge_kraken_tax.R:50's empty-rank handling).
    """
    ranks = ranks or RANKS
    first_prefix = r"^[a-z]__" if strip_prefix else r"$^"
    cleaned = F.regexp_replace(F.col(lineage_col), first_prefix, "")
    arr = F.split(cleaned, sep)
    out = df.withColumn("lineage_path", arr)
    for i, r in enumerate(ranks):
        # try_element_at: a lineage truncated above rank i (shorter array)
        # yields NULL for the missing ranks — merge_kraken_tax.R's
        # separate(fill='right') NA semantics — instead of the ANSI
        # out-of-bounds error plain element_at raises
        v = F.try_element_at("lineage_path", F.lit(i + 1))
        out = out.withColumn(r, F.when(v == "", None).otherwise(v))
    return out


def lineage_closure(nodes: DataFrame, id_col: str, path_col: str) -> DataFrame:
    """Build closure(ancestor, descendant, depth) from per-node ancestor paths.

    ``path_col`` is an array of ancestor ids root→self (self included).
    One explode — no recursion, no iteration. This replaces the reference's
    per-taxon `taxonkit list` subprocess calls (tax_abund_from_contigs.R:72-86).
    """
    return (nodes.select(F.col(id_col).alias("descendant"),
                         F.posexplode(path_col).alias("depth", "ancestor"))
            .select("ancestor", "descendant", "depth"))


def closure_from_parent_edges(edges: DataFrame, child: str = "child",
                              parent: str = "parent", max_depth: int = 32) -> DataFrame:
    """Closure from (child, parent) edges by iterative join (tree depth ≤ max_depth).

    Spark SQL has no recursive CTE; for bounded-depth trees (NCBI taxonomy
    depth ~40) an iterative self-join with early exit is the idiomatic
    replacement. Each iteration is one broadcast-or-shuffle join; the loop
    runs on the driver but the data never does.

    EAGER: the returned closure is materialized (and left persisted —
    released via ``_cache.release_caches()`` or ``.unpersist()``) before the
    per-iteration frontier caches are dropped; previously every frontier
    stayed pinned for the session. Closures are dimension-scale (#nodes ×
    depth) by design, so pinning the result, not the intermediates, is the
    right trade.
    """
    from glamr_omics_pipelines_spark.operators import _cache
    # self-rows for EVERY node — children AND parents; a root appears only on
    # the parent side, and omitting its self-row would drop root-directed
    # abundance from the root's own subtree sum (subtree >= direct invariant)
    all_nodes = (edges.select(F.col(child).alias("_n"))
                 .unionByName(edges.select(F.col(parent).alias("_n")))
                 .distinct())
    closure = all_nodes.select(F.col("_n").alias("descendant"),
                               F.col("_n").alias("ancestor"),
                               F.lit(0).alias("depth"))
    frontier = edges.select(F.col(child).alias("descendant"),
                            F.col(parent).alias("ancestor"),
                            F.lit(1).alias("depth"))
    e = edges.select(F.col(child).alias("_c"), F.col(parent).alias("_p"))
    frontiers = []
    converged = False
    for _ in range(max_depth):
        closure = closure.unionByName(frontier)
        nxt = (frontier.join(e, frontier.ancestor == e._c, "inner")
               .select("descendant", F.col("_p").alias("ancestor"),
                       (F.col("depth") + 1).alias("depth")))
        frontier = nxt.persist()
        frontiers.append(frontier)
        if frontier.isEmpty():
            converged = True
            break
    if not converged and not frontier.isEmpty():
        # a silent break here would return a TRUNCATED closure and
        # subtree_rollup would undercount deep ancestors with no symptom —
        # fail loudly instead (a >max_depth tree or a parent-edge cycle)
        for f in frontiers:
            f.unpersist()
        raise ValueError(
            f"closure_from_parent_edges did not converge in {max_depth} "
            f"levels: tree deeper than max_depth, or the edges contain a "
            f"cycle; raise max_depth or break the cycle")
    out = _cache.register(closure.dropDuplicates(["ancestor", "descendant"]))
    out.count()  # materialize while the frontier caches are still live
    for f in frontiers:
        f.unpersist()
    return out


def subtree_rollup(abund: DataFrame, closure: DataFrame, tax_id: str,
                   value: str, out_direct: str = "abund_direct",
                   out_subtree: str = "abund_w_subtax") -> DataFrame:
    """Per-taxon direct sum + subtree (self+descendants) sum (SURVEY A2).

    Returns one row per ancestor present in the closure with both sums.
    Invariant (reference asserts it, tax_abund_from_contigs.R:90-92, and our
    tests do too): subtree >= direct for every node.
    """
    direct = abund.groupBy(F.col(tax_id).alias("node")).agg(
        F.sum(value).alias(out_direct))
    sub = (abund.join(closure, abund[tax_id] == closure.descendant, "inner")
           .groupBy(F.col("ancestor").alias("node"))
           .agg(F.sum(value).alias(out_subtree)))
    return (sub.join(direct, "node", "left")
            .na.fill({out_direct: 0.0}))


def rank_ladder_rollup(df: DataFrame, rank_cols: list[str], agg_exprs: list) -> DataFrame:
    """bracken-style one-row-per-rank table via native ROLLUP (SURVEY §2.4).

    GROUP BY ROLLUP(kingdom..species) reproduces the K/P/C/O/F/G/S rank
    ladder of a kraken/bracken report in one pass (partial aggregation
    handles all grouping sets map-side).
    """
    return df.rollup(*rank_cols).agg(*agg_exprs)


def lca_aggregate(df: DataFrame, group_cols: list[str], path_col: str,
                  out_path: str = "lca_path") -> DataFrame:
    """Lowest-common-ancestor lineage per group (SURVEY A11, MakeLCA).

    Exact and shuffle-light: the common prefix of ALL paths in a group equals
    the common prefix of the lexicographically smallest and largest paths, so
    ``min(path)`` / ``max(path)`` (both partially aggregable) carry all needed
    state; the prefix is an unrolled element compare (``_common_prefix``) —
    no UDF, no collect_list. NULL paths are skipped by min/max, so a group
    whose every path is NULL yields a NULL ``out_path``.
    """
    mn, mx = F.min(path_col).alias("_mn"), F.max(path_col).alias("_mx")
    agg = df.groupBy(*group_cols).agg(mn, mx)
    return _common_prefix(agg, out_path)


def _common_prefix(agg: DataFrame, out_path: str,
                   max_depth: int = 16) -> DataFrame:
    """Shared tail of the LCA aggregates: longest common prefix of the
    `_mn`/`_mx` array columns.

    Codegen, not HOF: lineage arrays have bounded rank depth, so the
    position scan unrolls to a CASE chain of ``max_depth`` null-safe
    element compares — whole-stage-codegen instead of an interpreted
    per-element F.transform lambda. At the reference's depth-2/-8 paths
    the two forms measure EQUAL at sf0.1 (the per-element dispatch only
    bites on long arrays — see the per-char-fold trap notes elsewhere);
    the unrolled form is kept because it can never degrade with depth and
    is ANSI-safe. ``max_depth`` (default 16) must bound the rank depth
    (every taxonomy convention in the reference is ≤ 8); positions past
    both lengths compare NULL==NULL and the final least(n, …) caps the
    result, so equal arrays of any length ≤ max_depth resolve exactly.
    """
    n = F.least(F.array_size("_mn"), F.array_size("_mx"))
    # first mismatching position, unrolled: CASE WHEN pos1 differs THEN 0
    # WHEN pos2 differs THEN 1 ... ELSE max_depth; try_element_at is OOB-NULL
    # (ANSI-safe) and eqNullSafe treats the both-NULL tail as equal.
    prefix = None
    for i in range(1, max_depth + 1):
        eq_i = F.try_element_at("_mn", F.lit(i)).eqNullSafe(
            F.try_element_at("_mx", F.lit(i)))
        prefix = (F.when(~eq_i, i - 1) if prefix is None
                  else prefix.when(~eq_i, i - 1))
    prefix_len = F.least(n, prefix.otherwise(max_depth))
    return (agg.withColumn(out_path, F.slice("_mn", 1, prefix_len.cast("int")))
            .drop("_mn", "_mx"))


def kingdom_priority_lca(df: DataFrame, group_cols: list[str], path_col: str,
                         kingdom_col: str, priority: list[str],
                         out_path: str = "lca_path") -> DataFrame:
    """MakeLCA's kingdom-priority buckets (AnnotateContigs.pl:690-696):
    compute the LCA within the highest-priority kingdom present in the group
    (e.g. G > I > B), ignoring hits from lower-priority kingdoms.
    """
    prio = F.create_map(*[x for i, k in enumerate(priority)
                          for x in (F.lit(k), F.lit(i))])
    ranked = df.withColumn("_prio", F.coalesce(prio[F.col(kingdom_col)],
                                               F.lit(len(priority))))
    # ONE shuffle, no join-back: struct ordering is lexicographic, so
    #   min(struct(prio, path))  = min path within the best (lowest) priority
    #   max(struct(-prio, path)) = max path within that same priority
    # — both partially aggregable, carrying the priority filter inside the
    # aggregate itself instead of a groupBy + equi-join + second groupBy.
    mn_s = F.min(F.struct(F.col("_prio").alias("p"),
                          F.col(path_col).alias("v")))
    mx_s = F.max(F.struct((-F.col("_prio")).alias("p"),
                          F.col(path_col).alias("v")))
    agg = (ranked.groupBy(*group_cols)
           .agg(mn_s.getField("v").alias("_mn"),
                mx_s.getField("v").alias("_mx")))
    return _common_prefix(agg, out_path)


def ncbi_majority_vote(votes: DataFrame, group_cols: list[str],
                       taxon_col: str, named_col: str | None = None,
                       no_vote: str = "none") -> DataFrame:
    """GTDB→NCBI majority-vote translation (the per-cluster vote resolution
    of gtdb_to_ncbi_majority_vote.py:259-320 ``resolve_majority_vote`` /
    :322-345 ``ncbi_sp_majority_vote``): one vote row per cluster member,
    return the winning *named* taxon per group or ``no_vote``.

    Reference rule (all four documented cases): a named taxon (more than the
    bare ``g__`` rank prefix, unless ``named_col`` overrides) wins iff
      - its count is >= 50% of the group's votes, AND
      - no OTHER named taxon ties it at that maximum
    (an unnamed taxon tying at exactly 50% does not block the named winner —
    reference case 4; an unnamed plurality never wins — cases 1/3).

    That reduction is exact: a count > 50% is necessarily the unique maximum;
    at exactly 50% only one other taxon can tie, and the reference resolves
    named-vs-unnamed ties to the named taxon and named-vs-named ties to no
    vote.  Ties below 50% never produce a winner, so the winner is fully
    determined by (max named count, its multiplicity, total votes) — no
    per-group sort, no ``most_common`` materialization.

    Plan: member-grain votes → ONE partial-aggregable count at
    (group, taxon) grain, a whole-partition window to attach the group
    total/max (taxon-grain data, orders of magnitude below member grain),
    then a groupBy(group) that reuses the window's hash partitioning — two
    taxon-grain exchanges total, integer-exact (no 0.5*n floats).
    """
    named = (F.col(named_col) if named_col
             else F.length(F.col(taxon_col)) > 3)
    counts = (votes.groupBy(*group_cols, taxon_col)
              .agg(F.count(F.lit(1)).alias("n"))
              .withColumn("_named", named))
    w = Window.partitionBy(*group_cols)
    st = (counts
          .withColumn("_total", F.sum("n").over(w))
          .withColumn("_nmax",
                      F.max(F.when(F.col("_named"), F.col("n"))).over(w)))
    cand = F.col("_named") & (F.col("n") == F.col("_nmax"))
    return (st.groupBy(*group_cols)
            .agg(F.max("_total").cast("bigint").alias("n_votes"),
                 F.max("_nmax").cast("bigint").alias("top_named_count"),
                 F.sum(F.when(cand, 1).otherwise(0)).alias("_ncand"),
                 F.min(F.when(cand, F.col(taxon_col))).alias("_cand"))
            .withColumn(
                "mv_taxon",
                F.coalesce(
                    F.when((F.lit(2) * F.col("top_named_count")
                            >= F.col("n_votes"))
                           & (F.col("_ncand") == 1), F.col("_cand")),
                    F.lit(no_vote)))
            .drop("_ncand", "_cand"))
