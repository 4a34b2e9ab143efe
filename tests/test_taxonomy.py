"""Taxonomy engine tests: lineage parse, closure, subtree rollup (with the
reference's own invariant: subtree >= direct, not all equal —
tax_abund_from_contigs.R:90-92), LCA."""

import math

import pytest
from pyspark.sql import functions as F

from glamr_omics_pipelines_spark.operators import taxonomy


def test_parse_lineage(spark):
    df = spark.createDataFrame(
        [("d__Bacteria;p__Proteo;c__Gamma;o__;f__;g__;s__",)], ["lin"])
    out = taxonomy.parse_lineage(df, "lin").collect()[0]
    assert out["kingdom"] == "Bacteria"
    assert out["phylum"] == "Proteo"
    assert out["class"] == "Gamma"
    assert out["order"] is None  # empty rank -> NULL


def _tree(spark):
    # root r; children a, b; leaves a1, a2 under a; b1 under b
    rows = [("a1", ["r", "a", "a1"], 10.0),
            ("a2", ["r", "a", "a2"], 5.0),
            ("b1", ["r", "b", "b1"], 2.0),
            # internal node with direct abundance too
            ("a", ["r", "a"], 1.0)]
    return spark.createDataFrame(rows, ["tax_id", "path", "tpm"])


def test_lineage_closure_and_subtree_rollup(spark):
    nodes = _tree(spark)
    closure = taxonomy.lineage_closure(nodes, "tax_id", "path")
    abund = nodes.select("tax_id", "tpm")
    out = taxonomy.subtree_rollup(abund, closure, "tax_id", "tpm")
    got = {r["node"]: (r["abund_direct"], r["abund_w_subtax"])
           for r in out.collect()}
    assert got["r"] == (0.0, 18.0)
    assert got["a"] == (1.0, 16.0)
    assert got["b"] == (0.0, 2.0)
    assert got["a1"] == (10.0, 10.0)
    # reference invariant: subtree >= direct everywhere, and not all equal
    assert all(s >= d for d, s in got.values())
    assert any(not math.isclose(s, d) for d, s in got.values())


@pytest.mark.slow
def test_closure_from_parent_edges(spark):
    edges = spark.createDataFrame(
        [("a", "r"), ("b", "r"), ("a1", "a")], ["child", "parent"])
    closure = taxonomy.closure_from_parent_edges(edges)
    got = {(r["ancestor"], r["descendant"]) for r in closure.collect()}
    assert ("r", "a1") in got      # transitive
    assert ("a", "a1") in got
    assert ("a1", "a1") in got     # reflexive
    assert ("r", "b") in got


def test_lca_aggregate(spark):
    df = spark.createDataFrame(
        [("g1", ["r", "a", "a1"]), ("g1", ["r", "a", "a2"]),
         ("g2", ["r", "a", "a1"]), ("g2", ["r", "b", "b1"]),
         ("g3", ["r", "a", "a1"])],
        ["gene", "path"])
    out = taxonomy.lca_aggregate(df, ["gene"], "path")
    got = {r["gene"]: r["lca_path"] for r in out.collect()}
    assert got["g1"] == ["r", "a"]
    assert got["g2"] == ["r"]
    assert got["g3"] == ["r", "a", "a1"]


def test_kingdom_priority_lca(spark):
    df = spark.createDataFrame(
        [("g1", "B", ["B", "x"]), ("g1", "G", ["G", "y"]),
         ("g1", "G", ["G", "z"])],
        ["gene", "kingdom", "path"])
    out = taxonomy.kingdom_priority_lca(df, ["gene"], "path", "kingdom",
                                        priority=["G", "I", "B"])
    got = out.collect()[0]["lca_path"]
    assert got == ["G"]  # only G hits considered; common prefix of y,z paths


def test_rank_ladder_rollup(spark):
    df = spark.createDataFrame(
        [("K1", "P1", 1.0), ("K1", "P2", 2.0), ("K2", "P3", 4.0)],
        ["kingdom", "phylum", "n"])
    out = taxonomy.rank_ladder_rollup(df, ["kingdom", "phylum"],
                                      [F.sum("n").alias("n")])
    got = {(r["kingdom"], r["phylum"]): r["n"] for r in out.collect()}
    assert got[(None, None)] == 7.0
    assert got[("K1", None)] == 3.0
    assert got[("K1", "P1")] == 1.0


@pytest.mark.slow
def test_closure_root_gets_self_row(spark):
    """Root appears only as a parent; its subtree sum must still include
    abundance assigned directly to the root (review finding)."""
    from glamr_omics_pipelines_spark.operators import taxonomy as tx
    from pyspark.sql import functions as F
    edges = spark.createDataFrame([("B", "A")], ["child", "parent"])
    closure = tx.closure_from_parent_edges(edges)
    abund = spark.createDataFrame([("A", 5.0), ("B", 3.0)], ["tax_id", "tpm"])
    out = tx.subtree_rollup(abund, closure, "tax_id", "tpm")
    rows = {r.node: r for r in out.collect()}
    assert rows["A"].abund_direct == 5.0
    assert rows["A"].abund_w_subtax == 8.0   # self + descendant
    assert rows["B"].abund_w_subtax == 3.0


def _lca_agreement_corpus(spark):
    """Adversarial LCA fixture: shared prefixes of every depth, groups
    with one path, duplicated paths, a NULL-path row, and a group whose
    EVERY path is NULL (the aggregate yields NULL lca_path)."""
    rows = [
        ("g1", "B", ["r", "a", "a1"]), ("g1", "G", ["r", "a", "a2"]),
        ("g1", "G", ["r", "a", "a2"]),          # duplicate path
        ("g2", "G", ["r", "a", "a1"]), ("g2", "B", ["r", "b", "b1"]),
        ("g3", "I", ["r", "a", "a1"]),           # singleton
        ("g4", "G", ["r"]), ("g4", "G", ["r", "a"]),  # prefix-of relation
        ("g5", "B", None), ("g5", "G", ["r", "b"]),   # NULL path mixed in
        ("g6", "X", None),                        # all-NULL group
        ("g7", "Z", ["z", "q"]), ("g7", "G", ["r", "q"]),  # unmapped kingdom
    ]
    return spark.createDataFrame(rows, ["gene", "kingdom", "path"])


def _py_lca(paths):
    """Plain-Python MakeLCA: the common prefix of a group's non-NULL
    lineages; a group with no lineage has no LCA."""
    paths = [p for p in paths if p is not None]
    if not paths:
        return None
    out = []
    for ranks in zip(*paths):
        if any(r != ranks[0] for r in ranks):
            break
        out.append(ranks[0])
    return out


def test_lca_matches_python_reference(spark):
    """Both LCA aggregates equal a plain-Python LCA of the same rows on an
    adversarial corpus: NULL paths, a prefix-of pair, an all-NULL group,
    a disjoint pair (empty LCA) and an unmapped kingdom."""
    df = _lca_agreement_corpus(spark)
    rows = [(r["gene"], r["kingdom"], r["path"]) for r in df.collect()]
    priority = ["G", "I", "B"]

    def prio(k):
        return priority.index(k) if k in priority else len(priority)

    groups = {}
    for gene, kingdom, path in rows:
        groups.setdefault(gene, []).append((prio(kingdom), path))
    want_lca = {g: _py_lca([p for _, p in hits]) for g, hits in groups.items()}
    want_kp = {}
    for g, hits in groups.items():
        best = min(k for k, _ in hits)
        want_kp[g] = _py_lca([p for k, p in hits if k == best])

    got_lca = {r["gene"]: r["lca_path"] for r in
               taxonomy.lca_aggregate(df, ["gene"], "path").collect()}
    got_kp = {r["gene"]: r["lca_path"] for r in taxonomy.kingdom_priority_lca(
        df, ["gene"], "path", "kingdom", priority=priority).collect()}
    assert got_lca == want_lca
    assert got_kp == want_kp
    # the corpus really exercises the edge cases
    assert want_lca["g6"] is None and want_lca["g7"] == []
    assert want_kp["g5"] == ["r", "b"] and want_kp["g7"] == ["r", "q"]


def test_ncbi_majority_vote_reference_cases(spark):
    """The four documented cases of resolve_majority_vote
    (gtdb_to_ncbi_majority_vote.py:259-320), one cluster per case:
      c1: named at >50%                      -> winner
      c2: unnamed at >50%                    -> none
      c3: no taxon at >=50%                  -> none
      c4: single named at exactly 50%        -> winner (rest spread)
      c5: named 50% vs unnamed 50%           -> winner (named beats bare prefix)
      c6: named 50% vs named 50%             -> none
    """
    votes = []
    votes += [("c1", "g__A")] * 3 + [("c1", "g__B")] * 2
    votes += [("c2", "g__")] * 3 + [("c2", "g__B")] * 2
    votes += [("c3", "g__A")] * 2 + [("c3", "g__B")] * 2 + [("c3", "g__C")]
    votes += [("c4", "g__A")] * 2 + [("c4", "g__B")] + [("c4", "g__C")]
    votes += [("c5", "g__A")] * 2 + [("c5", "g__")] * 2
    votes += [("c6", "g__A")] * 2 + [("c6", "g__B")] * 2
    df = spark.createDataFrame(votes, ["cluster", "taxon"])
    out = taxonomy.ncbi_majority_vote(df, ["cluster"], "taxon")
    got = {r["cluster"]: (r["mv_taxon"], r["n_votes"]) for r in out.collect()}
    assert got["c1"] == ("g__A", 5)
    assert got["c2"] == ("none", 5)
    assert got["c3"] == ("none", 5)
    assert got["c4"] == ("g__A", 4)
    assert got["c5"] == ("g__A", 4)
    assert got["c6"] == ("none", 4)
