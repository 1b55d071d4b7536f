"""Coref band join, connected components, canonicalization, linking."""

from __future__ import annotations

import pyspark.sql.functions as F

from dygiepp_spark import tables as TT
from dygiepp_spark.operators import coref as CO
from dygiepp_spark.operators import linking as LK


def _mentions(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, start int, end int, surface string"
    )


def test_antecedent_band_join_window(spark):
    # 3 mentions; with max_antecedents=1 only adjacent pairs are candidates
    m = _mentions(
        spark, [("d", 0, 0, 0, "x"), ("d", 0, 2, 2, "y"), ("d", 1, 0, 0, "z")]
    )
    cands = CO.antecedent_candidates(m, max_antecedents=1).collect()
    got = {(r["anaphor_ix"], r["antecedent_ix"]) for r in cands}
    assert got == {(1, 0), (2, 1)}


def test_connected_components_chain_and_islands(spark):
    nodes = spark.createDataFrame(
        [("d", i) for i in range(6)], "conv_id string, mention_ix int"
    )
    edges = spark.createDataFrame(
        [("d", 1, 0), ("d", 2, 1), ("d", 4, 3)],
        "conv_id string, anaphor_ix int, antecedent_ix int",
    )
    labels = {
        r["mention_ix"]: r["cluster_id"]
        for r in CO.connected_components(edges, nodes).collect()
    }
    assert labels == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}


def test_coref_clusters_same_surface(spark):
    m = _mentions(
        spark,
        [
            ("d", 0, 1, 1, "spark"),
            ("d", 0, 5, 5, "table"),
            ("d", 1, 2, 2, "spark"),
            ("d", 2, 0, 0, "spark"),
            ("e", 0, 0, 0, "spark"),
        ],
    )
    out = CO.coref_clusters(m)
    sizes = {
        (r["conv_id"], r["cluster_id"]): r["n"]
        for r in out.groupBy("conv_id", "cluster_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # d: {spark x3}, {table}, e: {spark}
    assert sorted(sizes.values()) == [1, 1, 3]


def _assert_matches_pointer_components(m, max_antecedents):
    """coref_clusters must equal the general decode: same-surface edges
    through pointer_components, joined back onto the mention order."""
    ordered = CO.mention_order(m)
    labels = CO.pointer_components(
        CO.coref_edges_same_surface(m, max_antecedents),
        ordered.select("conv_id", "mention_ix"),
    )
    ref = ordered.join(labels, ["conv_id", "mention_ix"])
    got = CO.coref_clusters(m, max_antecedents).select(*ref.columns)
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0
    return {(r["conv_id"], r["mention_ix"], r["cluster_id"]) for r in got.collect()}


def test_coref_clusters_equals_pointer_components_sf(spark, sf_dir):
    from dygiepp_spark.operators import extraction as EX

    mentions = EX.detect_mentions(
        TT.turns_from_documents(spark, sf_dir, with_ts=False)
    ).localCheckpoint()
    _assert_matches_pointer_components(mentions, CO.MAX_ANTECEDENTS)


def _gap_frame(spark, gap):
    # "s" at mention 0 and at mention `gap`, "f" fillers in between
    rows = [("d", 0, 0, 0, "s")]
    rows += [("d", i, 0, 0, "f") for i in range(1, gap)]
    rows += [("d", gap, 0, 0, "s")]
    return _mentions(spark, rows)


def test_coref_clusters_gap_at_window_is_one_cluster(spark):
    k = CO.MAX_ANTECEDENTS
    got = _assert_matches_pointer_components(_gap_frame(spark, k), k)
    assert {("d", 0, 0), ("d", k, 0)} <= got


def test_coref_clusters_gap_past_window_splits(spark):
    k = CO.MAX_ANTECEDENTS
    got = _assert_matches_pointer_components(_gap_frame(spark, k + 1), k)
    assert {("d", 0, 0), ("d", k + 1, k + 1)} <= got


def test_coref_clusters_interleaved_null_surface_window_one(spark):
    m = _mentions(
        spark,
        [
            ("d", 0, 0, 0, "a"),
            ("d", 0, 1, 1, "a"),  # adjacent: links to 0
            ("d", 0, 2, 2, "b"),
            ("d", 0, 3, 3, "a"),  # 2 back: past the window, new run
            ("d", 0, 4, 4, None),
            ("d", 0, 5, 5, None),  # null never links, even adjacent
            ("d", 0, 6, 6, "b"),
            ("d", 0, 7, 7, "b"),
            ("e", 0, 0, 0, "a"),
            ("e", 0, 1, 1, "a"),
        ],
    )
    assert _assert_matches_pointer_components(m, 1) == {
        ("d", 0, 0), ("d", 1, 0), ("d", 2, 2), ("d", 3, 3), ("d", 4, 4),
        ("d", 5, 5), ("d", 6, 6), ("d", 7, 6), ("e", 0, 0), ("e", 1, 0),
    }


def test_canonicalize_longest_member_wins(spark):
    clustered = spark.createDataFrame(
        [
            ("d", 0, 0, 0, 0, "ab"),
            ("d", 1, 3, 3, 5, "long span here"),  # width 3 -> exemplar
            ("d", 2, 7, 7, 7, "zz"),
        ],
        "conv_id string, mention_ix int, turn_idx int, start int, end int, surface string",
    ).withColumn("cluster_id", F.lit(0))
    out = CO.canonicalize_clusters(clustered).collect()
    assert out[0]["exemplar_text"] == "long span here"
    assert out[0]["n_members"] == 3


def test_linking_hits_and_fallback(spark):
    m = _mentions(spark, [("d", 0, 0, 0, "Spark "), ("d", 0, 1, 1, "unknownthing")])
    linked = {r["surface"]: r for r in LK.link_mentions(m, TT.entity_dict(spark)).collect()}
    assert linked["Spark "]["entity_id"] == "E000"  # normalized strip+lower hit
    assert linked["unknownthing"]["entity_id"] == "S:unknownthing"
    assert linked["unknownthing"]["type"] == "UNKNOWN"


def test_pointer_components_equals_generic_cc(spark, sf_dir):
    # the coref edge set is a pointer forest (one antecedent per anaphor);
    # the specialized pointer-doubling CC must agree with the generic
    # neighbor-min CC on it
    from dygiepp_spark.operators import extraction as EX

    mentions = EX.detect_mentions(
        TT.turns_from_documents(spark, sf_dir, with_ts=False).filter(
            F.col("conv_id").cast("int") < 60
        )
    )
    ordered = CO.mention_order(mentions)
    edges = CO.coref_edges_same_surface(mentions)
    nodes = ordered.select("conv_id", "mention_ix")
    a = CO.pointer_components(edges, nodes)
    b = CO.connected_components(edges, nodes)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_pointer_components_long_chain(spark):
    # chain 0<-1<-2<-...<-9 plus an island: all chain nodes label 0
    edges = spark.createDataFrame(
        [("c", i, i - 1) for i in range(1, 10)],
        "conv_id string, anaphor_ix int, antecedent_ix int",
    )
    nodes = spark.createDataFrame(
        [("c", i) for i in range(10)] + [("c", 42)],
        "conv_id string, mention_ix int",
    )
    got = {
        (r["mention_ix"], r["cluster_id"])
        for r in CO.pointer_components(edges, nodes).collect()
    }
    assert got == {(i, 0) for i in range(10)} | {(42, 42)}


def test_coref_fixture_cluster_replay(spark):
    """M13-M16 against the reference's own SciERC fixture: replay the gold
    clusters as antecedent chains (each member points to the previous one —
    the reference's coref label construction, dygie.py:58-67) and verify
    our component labeling reproduces the cluster PARTITION exactly."""
    import json

    fixture = "/root/reference/dygie/tests/fixtures/scierc_article.json"
    doc = json.loads(open(fixture).readline())
    clusters = [
        [tuple(span) for span in cl] for cl in doc["clusters"] if len(cl) >= 1
    ]
    all_spans = sorted({s for cl in clusters for s in cl})
    ix = {s: i for i, s in enumerate(all_spans)}  # textual order = mention_ix

    edge_rows = []
    for cl in clusters:
        members = sorted(cl)
        for prev, cur in zip(members, members[1:]):
            edge_rows.append(("d", ix[cur], ix[prev]))
    edges = spark.createDataFrame(
        edge_rows, "conv_id string, anaphor_ix int, antecedent_ix int"
    )
    nodes = spark.createDataFrame(
        [("d", i) for i in range(len(all_spans))],
        "conv_id string, mention_ix int",
    )
    for cc in (CO.pointer_components, CO.connected_components):
        labels = cc(edges, nodes)
        got = {}
        for r in labels.collect():
            got.setdefault(r["cluster_id"], set()).add(r["mention_ix"])
        got_partition = {frozenset(v) for v in got.values()}
        expected = {frozenset(ix[s] for s in cl) for cl in clusters}
        # singletons in `got` are spans not in any multi-span cluster
        got_multi = {p for p in got_partition if len(p) > 1}
        exp_multi = {p for p in expected if len(p) > 1}
        assert got_multi == exp_multi, cc.__name__


def test_coref_fixture_canonicalization_longest_member(spark):
    """K11 against the fixture: exemplar = longest member span
    (coref_to_tsv.py:11-33), cross-checked with a direct Python fold."""
    import json

    fixture = "/root/reference/dygie/tests/fixtures/scierc_article.json"
    doc = json.loads(open(fixture).readline())
    toks = [t for sent in doc["sentences"] for t in sent]
    clusters = [cl for cl in doc["clusters"] if len(cl) >= 2]
    all_spans = sorted({tuple(s) for cl in clusters for s in cl})
    ix = {s: i for i, s in enumerate(all_spans)}

    rows = [
        ("d", 0, s[0], s[1], " ".join(toks[s[0]: s[1] + 1]), ix[s], ci)
        for ci, cl in enumerate(clusters)
        for s in (tuple(x) for x in cl)
    ]
    clustered = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, start int, end int, surface string, "
        "mention_ix int, cluster_id int",
    )
    got = {
        r["cluster_id"]: r["exemplar_text"]
        for r in CO.canonicalize_clusters(clustered).collect()
    }
    for ci, cl in enumerate(clusters):
        best = min(
            sorted((tuple(s) for s in cl), key=lambda s: ix[s]),
            key=lambda s: (-(s[1] - s[0]), ix[s]),
        )
        assert got[ci] == " ".join(toks[best[0]: best[1] + 1])
