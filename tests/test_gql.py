"""Pattern front-end tests.

Parse golden tests mirror the reference's parser suite
(/root/reference/reasoner/kgdsl-parser/src/test/scala/com/antgroup/openspg/reasoner/parser/OpenSPGDslParserTest.scala:60-106);
compile tests check results against hand-built DataFrame plans.
"""

import pytest
from pyspark.sql import functions as F

from linkgraph import gql
from linkgraph.gql import EdgePat, PropertyGraph, compile_query, parse


# ---------------------------------------------------------------------------
# parse goldens
# ---------------------------------------------------------------------------


def test_parse_simple_match():
    q = parse("MATCH (s)-[]->(o) RETURN s.id, o.id")
    assert set(q.nodes) == {"s", "o"}
    assert q.edges == [EdgePat("s", "o")]
    assert [n for _, n in q.returns] == ["s_id", "o_id"]
    assert q.where is None


def test_parse_where_literal():
    q = parse("MATCH (s)-[]->(o) WHERE s.id = 1 RETURN s.id, o.id")
    assert q.where == ("bin", "=", ("ref", "s", "id"), ("lit", 1))


def test_parse_multi_pattern_and_alias():
    q = parse(
        "MATCH (s)-[]->(o), (o)-[]->(p1) WHERE s.id > o.id "
        "RETURN s.id AS s_id, o.id, p1.id"
    )
    assert q.edges == [EdgePat("s", "o"), EdgePat("o", "p1")]
    assert [n for _, n in q.returns] == ["s_id", "o_id", "p1_id"]


def test_parse_labels_types_direction_varlen():
    q = parse(
        "MATCH (a:User)-[e:FOLLOWS]->(b), (a)<-[f:LIKES]-(c), "
        "(a)-[g:FOLLOWS*1..3]->(d) RETURN a, count(*) AS n ORDER BY n DESC LIMIT 5"
    )
    assert q.nodes["a"].label == "User"
    assert q.edges[0] == EdgePat("a", "b", "e", "FOLLOWS")
    # reversed edge normalizes to forward src=c
    assert q.edges[1] == EdgePat("c", "a", "f", "LIKES")
    assert q.edges[2] == EdgePat("a", "d", "g", "FOLLOWS", 1, 3)
    assert q.limit == 5 and q.order_by[0][1] is False


def test_parse_distinct_and_expr_precedence():
    q = parse(
        "MATCH (a)-[]->(b) WHERE a.x + 1 * 2 = 3 AND NOT b.y <> 'z' "
        "RETURN DISTINCT b.y"
    )
    assert q.distinct
    assert q.where == (
        "bin", "and",
        ("bin", "=", ("bin", "+", ("ref", "a", "x"), ("bin", "*", ("lit", 1), ("lit", 2))), ("lit", 3)),
        ("not", ("bin", "<>", ("ref", "b", "y"), ("lit", "z"))),
    )


def test_max_degree_root():
    q = parse("MATCH (s)-[]->(o), (o)-[]->(p1) RETURN s.id")
    assert gql._max_degree_root(q) == "o"  # o touches 2 connections


# ---------------------------------------------------------------------------
# compile
# ---------------------------------------------------------------------------


@pytest.fixture()
def g(spark):
    verts = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")],
        "vid bigint, name string",
    )
    edges = spark.createDataFrame(
        [(1, 2, 10), (2, 3, 20), (2, 4, 5), (3, 4, 30), (4, 5, 40), (1, 3, 7)],
        "src bigint, dst bigint, ts int",
    )
    return PropertyGraph({"V": verts}, {"E": edges})


def test_compile_2hop_agg(g):
    got = {
        (r["a"], r["n"])
        for r in compile_query(
            "MATCH (a)-[]->(b)-[]->(c) RETURN a AS a, count(*) AS n", g
        ).collect()
    }
    # 2-hop paths: 1-2-3,1-2-4,1-3-4,2-3-4,2-4-5,3-4-5
    assert got == {(1, 3), (2, 2), (3, 1)}


def test_compile_edge_prop_constraint(g):
    rows = compile_query(
        "MATCH (a)-[e1]->(b)-[e2]->(c) WHERE e1.ts < e2.ts "
        "RETURN a AS a, c AS c, e2.ts AS t2 ORDER BY a ASC, c ASC, t2 ASC",
        g,
    ).collect()
    got = [(r["a"], r["c"], r["t2"]) for r in rows]
    assert got == [(1, 3, 20), (1, 4, 30), (2, 4, 30), (2, 5, 40), (3, 5, 40)]


def test_compile_reversed_edge_equivalent(g):
    fwd = compile_query("MATCH (a)-[]->(b) RETURN a AS a, b AS b", g).collect()
    rev = compile_query("MATCH (b)<-[]-(a) RETURN a AS a, b AS b", g).collect()
    assert {tuple(r) for r in fwd} == {tuple(r) for r in rev}


def test_compile_varlen_distinct(g):
    got = {
        r["b"]
        for r in compile_query(
            "MATCH (a)-[e*1..3]->(b) WHERE a.vid = 1 RETURN DISTINCT b AS b", g
        ).collect()
    }
    assert got == {2, 3, 4, 5}


def test_compile_triangle_expand_into(g):
    # cyclic pattern: the third edge joins two bound aliases (ExpandInto)
    got = {
        (r["a"], r["b"], r["c"])
        for r in compile_query(
            "MATCH (a)-[]->(b), (b)-[]->(c), (a)-[]->(c) "
            "RETURN a AS a, b AS b, c AS c",
            g,
        ).collect()
    }
    # directed triangles in the fixture: 1->2->3 with 1->3, 2->3->4 with 2->4
    assert got == {(1, 2, 3), (2, 3, 4)}


def test_compile_vertex_prop_and_scalar_func(g):
    rows = compile_query(
        "MATCH (a)-[]->(b) WHERE upper(b.name) = 'C' RETURN a.name AS an, b.name AS bn",
        g,
    ).collect()
    assert {(r["an"], r["bn"]) for r in rows} == {("a", "c"), ("b", "c")}


def test_compile_explicit_root_matches_default(g):
    dsl = "MATCH (a)-[]->(b)-[]->(c) RETURN a AS a, count(*) AS n"
    d1 = {tuple(r) for r in compile_query(dsl, g).collect()}
    d2 = {tuple(r) for r in compile_query(dsl, g, root="a").collect()}
    assert d1 == d2


def test_unknown_reference_raises(g):
    with pytest.raises(ValueError):
        compile_query("MATCH (a)-[]->(b) RETURN z.vid AS z", g)


def test_optional_match(g):
    rows = compile_query(
        "MATCH (a) OPTIONAL MATCH (a)-[e]->(b) WHERE e.ts >= 30 "
        "RETURN a AS a, b AS b ORDER BY a ASC, b ASC",
        g,
    ).collect()
    got = [(r["a"], r["b"]) for r in rows]
    # edges with ts>=30: 3->4 (30), 4->5 (40); all other vertices keep NULL
    assert got == [(1, None), (2, None), (3, 4), (4, 5), (5, None)]


def test_optional_match_count_semantics(g):
    rows = compile_query(
        "MATCH (a) OPTIONAL MATCH (a)-[e]->(b) "
        "RETURN a AS a, count(b.vid) AS n ORDER BY a ASC",
        g,
    ).collect()
    got = [(r["a"], r["n"]) for r in rows]
    # out-degrees: 1->2, 2->2, 3->1, 4->1, 5->0 (count skips NULLs)
    assert got == [(1, 2), (2, 2), (3, 1), (4, 1), (5, 0)]


def test_optional_requires_shared_alias(g):
    with pytest.raises(ValueError):
        compile_query(
            "MATCH (a) OPTIONAL MATCH (x)-[]->(y) RETURN a AS a", g
        )


def test_edge_type_union(spark):
    verts = spark.createDataFrame([(i,) for i in range(1, 5)], "vid bigint")
    follows = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    likes = spark.createDataFrame([(1, 3), (2, 4)], "src bigint, dst bigint")
    g = PropertyGraph({"V": verts}, {"FOLLOWS": follows, "LIKES": likes})
    q = parse("MATCH (a)-[e:FOLLOWS|LIKES]->(b) RETURN a AS a, b AS b, e.rel_type AS t")
    assert q.edges[0].rel == ("FOLLOWS", "LIKES")
    got = {(r["a"], r["b"], r["t"]) for r in compile_query(q, g).collect()}
    assert got == {(1, 2, "FOLLOWS"), (1, 3, "LIKES"), (2, 4, "LIKES")}
    # single-type still filters to one table
    one = {(r["a"], r["b"]) for r in compile_query(
        "MATCH (a)-[e:LIKES]->(b) RETURN a AS a, b AS b", g).collect()}
    assert one == {(1, 3), (2, 4)}


def test_undirected_edge(g):
    got = {
        (r["a"], r["b"])
        for r in compile_query(
            "MATCH (a)-[e]-(b) WHERE a.vid = 3 RETURN a AS a, b AS b", g
        ).collect()
    }
    # 3's neighbors in either direction: 2->3, 3->4, 1->3
    assert got == {(3, 2), (3, 4), (3, 1)}


def test_root_prefers_pinned_alias():
    q = parse("MATCH (a)-[]->(b)-[]->(c) WHERE c.vid = 5 RETURN a AS a")
    # max degree would pick b; the equality pin on c wins (seed pushdown)
    assert gql._choose_root(q) == "c"
    q2 = parse("MATCH (a)-[]->(b)-[]->(c) RETURN a AS a")
    assert gql._choose_root(q2) == "b"


def test_pinned_root_same_result(g):
    dsl = "MATCH (a)-[]->(b)-[]->(c) WHERE c.vid = 4 RETURN a AS a, b AS b"
    auto = {tuple(r) for r in compile_query(dsl, g).collect()}
    forced = {tuple(r) for r in compile_query(dsl, g, root="b").collect()}
    assert auto == forced and auto == {(1, 2), (1, 3), (2, 3)}


def test_varlen_from_dst_pinned_root(g):
    """A var-len edge reached from its dst side walks reversed edges and
    flips the path back to forward orientation."""
    rows = compile_query(
        "MATCH (a)-[e*1..3]->(b) WHERE b.vid = 5 RETURN DISTINCT a AS a", g
    ).collect()
    # reaching 5: 4->5; 3->4->5; 2->4->5; 2->3->4->5; 1->2->4..., 1->3->4->5
    assert {r["a"] for r in rows} == {1, 2, 3, 4}
    # path orientation is forward even when walked in reverse
    p = compile_query(
        "MATCH (a)-[e*2..2]->(b) WHERE b.vid = 5 AND a.vid = 3 "
        "RETURN e.path AS p",
        g,
    ).collect()
    assert [(x["src"], x["dst"]) for x in p[0]["p"]] == [(3, 4), (4, 5)]


def test_registered_agg_composes_with_gql(g):
    from linkgraph.functions import AGGREGATES

    AGGREGATES["sum_sq_gql_test"] = lambda c: F.sum(c * c)
    try:
        got = {
            (r["a"], r["ss"])
            for r in compile_query(
                "MATCH (a)-[e]->(b) RETURN a AS a, sum_sq_gql_test(b.vid) AS ss", g
            ).collect()
        }
    finally:
        del AGGREGATES["sum_sq_gql_test"]
    assert got == {(1, 13), (2, 25), (3, 16), (4, 25)}


def test_collect_list_and_accumulate_in_gql(g):
    rows = compile_query(
        "MATCH (a)-[e]->(b) RETURN a AS a, collect_list(b.vid) AS bs, "
        "accumulate(e.ts, '*') AS p ORDER BY a ASC",
        g,
    ).collect()
    assert [(r["a"], r["bs"], r["p"]) for r in rows] == [
        (1, [2, 3], 70.0),
        (2, [3, 4], 100.0),
        (3, [4], 30.0),
        (4, [5], 40.0),
    ]


def test_alias_collisions_rejected():
    with pytest.raises(SyntaxError):
        parse("MATCH (a)-[x:E]->(b), (x)-[:E]->(c) RETURN x.ts AS t")
    with pytest.raises(SyntaxError):
        parse("MATCH (a)-[e]->(b), (b)-[e]->(c) RETURN e.ts AS t")


def test_edge_limit_fanout_cap(g):
    q = parse("MATCH (a)-[e LIMIT 1]->(b) RETURN a AS a, b AS b")
    assert q.edges[0].limit == 1
    got = {
        (r["a"], r["b"])
        for r in compile_query(q, g).collect()
    }
    # deterministic top-1 by dst per source: 1->2, 2->3, 3->4, 4->5
    assert got == {(1, 2), (2, 3), (3, 4), (4, 5)}
    # var-len form: cap applies per hop
    v = {
        (r["a"], r["b"])
        for r in compile_query(
            "MATCH (a)-[e*1..2 LIMIT 1]->(b) WHERE a.vid = 1 "
            "RETURN DISTINCT a AS a, b AS b",
            g,
        ).collect()
    }
    assert v == {(1, 2), (1, 3)}  # 1->2 then 2->3 only


def test_parser_fuzz_no_crash_and_deterministic():
    """Seeded fuzz over the grammar: every generated string parses to the
    same AST twice (determinism) and never raises anything but
    SyntaxError on mutation."""
    import random

    rng = random.Random(99)
    labels = ["", ":User", ":Org"]
    rels = ["", ":E", ":A|B", ":E*1..3", ":E LIMIT 2", ":A|B*1..2 LIMIT 1"]
    arrows = [("-[{}]->", False), ("<-[{}]-", False), ("-[{}]-", False)]
    for _ in range(120):
        n = rng.randrange(1, 4)
        chunks = []
        for i in range(n):
            a1 = f"n{rng.randrange(4)}"
            a2 = f"n{rng.randrange(4)}"
            arrow, _ = arrows[rng.randrange(len(arrows))]
            e = rng.choice(rels)
            ealias = f"e{i}" if rng.random() < 0.5 and e else ""
            lab = rng.choice(labels)
            chunks.append(f"({a1}{lab}){arrow.format(ealias + e)}({a2})")
        where = " WHERE n0.vid >= 0" if rng.random() < 0.5 else ""
        dsl = f"MATCH {', '.join(chunks)}{where} RETURN n0.vid AS v LIMIT 5"
        try:
            q1, q2 = parse(dsl), parse(dsl)
            assert q1.edges == q2.edges and q1.nodes == q2.nodes
        except SyntaxError:
            pass  # duplicate edge aliases etc. — rejection is fine
        # mutate: truncate at a random point; must fail cleanly if at all
        cut = dsl[: rng.randrange(len(dsl))]
        try:
            parse(cut)
        except SyntaxError:
            pass


# ---------------------------------------------------------------------------
# round-3 surface: $params, IN / LIKE / RLIKE, cross-join guard
# ---------------------------------------------------------------------------


def test_parse_param_and_in_like_rlike():
    q = parse(
        "MATCH (a)-[]->(b) WHERE a.id = $seed AND b.name like 'a%' "
        "AND a.name rlike 'x.*' AND b.id in (1, 2, 3) RETURN a, b"
    )
    conj = gql._conjuncts(q.where)
    assert ("bin", "=", ("ref", "a", "id"), ("param", "seed")) in conj
    assert ("bin", "like", ("ref", "b", "name"), ("lit", "a%")) in conj
    assert ("bin", "rlike", ("ref", "a", "name"), ("lit", "x.*")) in conj
    assert ("in", ("ref", "b", "id"), [("lit", 1), ("lit", 2), ("lit", 3)]) in conj


def test_param_binding_and_reuse(g):
    q = parse("MATCH (a)-[]->(b) WHERE a = $seed RETURN b AS b")
    got1 = {r["b"] for r in compile_query(q, g, params={"seed": 1}).collect()}
    got2 = {r["b"] for r in compile_query(q, g, params={"seed": 2}).collect()}
    assert got1 == {2, 3}
    assert got2 == {3, 4}
    # same parsed Query reused with different params — binding is on a copy
    got1b = {r["b"] for r in compile_query(q, g, params={"seed": 1}).collect()}
    assert got1b == got1


def test_param_unbound_raises(g):
    q = parse("MATCH (a)-[]->(b) WHERE a = $seed RETURN b AS b")
    with pytest.raises(ValueError, match=r"\$seed"):
        compile_query(q, g)
    with pytest.raises(ValueError, match=r"\$seed"):
        compile_query(q, g, params={"other": 9})


def test_param_pins_traversal_root():
    """x.id = $p must seed the root exactly like a literal equality
    (IdEqualPushDown, optimizer/rules/IdEqualPushDown.scala:25)."""
    q = parse("MATCH (a)-[]->(b)-[]->(c) WHERE c.id = $pin RETURN a, c")
    assert gql._choose_root(q) == "c"


def test_in_list_param(g):
    q = parse("MATCH (a)-[]->(b) WHERE b in $ids RETURN a AS a, b AS b")
    got = {
        (r["a"], r["b"])
        for r in compile_query(q, g, params={"ids": [3, 5]}).collect()
    }
    assert got == {(1, 3), (2, 3), (4, 5)}


def test_like_rlike_compile(g):
    got = {
        r["n"]
        for r in compile_query(
            "MATCH (a)-[]->(b) WHERE b.name like 'c%' RETURN DISTINCT b.name AS n", g
        ).collect()
    }
    assert got == {"c"}
    got2 = {
        r["n"]
        for r in compile_query(
            "MATCH (a)-[]->(b) WHERE b.name rlike '^[cd]$' "
            "RETURN DISTINCT b.name AS n",
            g,
        ).collect()
    }
    assert got2 == {"c", "d"}


def test_cross_join_warns(g):
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        n = compile_query(
            "MATCH (a)-[]->(b), (x)-[]->(y) RETURN a, x", g
        ).count()
    assert n == 36  # 6 edges x 6 edges — the product is real
    assert any("cartesian" in str(w.message) for w in caught)


# ---------------------------------------------------------------------------
# shipped-.dsl label surface: backquoted / dotted / concept-qualified /
# alternated labels (KGDSL.g4:209-211, 842-845)
# ---------------------------------------------------------------------------


def test_parse_dotted_backquoted_concept_labels():
    q = parse(
        "MATCH (u:`Risk.User`/`赌博App开发者`)-[:developed]->(app:Risk.App) "
        "RETURN u.name, app.id"
    )
    assert q.nodes["u"].label == "Risk.User"
    assert q.nodes["app"].label == "Risk.App"
    assert q.edges[0].rel == "developed"
    # concept qualifier lowers to an equality conjunct on alias.concept
    assert q.where == (
        "bin", "=", ("ref", "u", "concept"), ("lit", "赌博App开发者")
    )
    # a doubled backquote escapes a literal one (KGDSL.g4:842-845
    # EscapedSymbolicName, openCypher semantics)
    q2 = parse("MATCH (a:`Foo``Bar`) RETURN a.vid")
    assert q2.nodes["a"].label == "Foo`Bar"


def test_parse_label_alternation():
    q = parse("MATCH (a:A|Ns.B)-[e:X|Y]->(b) RETURN a.vid AS v")
    assert q.nodes["a"].label == ("A", "Ns.B")
    assert q.edges[0].rel == ("X", "Y")


def test_parse_reference_shipped_dsl_files():
    """Every .dsl file the reference ships must parse (riskmining
    gambling_app.dsl, supplychain x2, tests demo.dsl)."""
    import glob

    files = glob.glob(
        "/root/reference/python/knext/**/*.dsl", recursive=True
    )
    if not files:
        pytest.skip("reference checkout not present")
    assert len(files) >= 4
    for f in files:
        q = parse(open(f).read())
        assert q.nodes and q.returns


def test_concept_qualified_compile(spark):
    """gambling_app.dsl end-to-end on a fixture graph: concept-qualified
    users develop/release apps; only the right (developer, boss) pairs
    survive the instance-of conjuncts."""
    users = spark.createDataFrame(
        [(1, "dev1", "赌博App开发者"), (2, "boss1", "赌博App老板"),
         (3, "dev2", "赌博App开发者"), (4, "other", "普通用户")],
        "vid bigint, name string, concept string",
    )
    apps = spark.createDataFrame(
        [(10, "appA", "赌博应用"), (11, "appB", "正常应用")],
        "vid bigint, id string, concept string",
    )
    g2 = PropertyGraph(
        {"RiskMining.TaxOfRiskUser": users, "RiskMining.TaxOfRiskApp": apps},
        {
            "developed": spark.createDataFrame(
                [(1, 10), (3, 11), (4, 10)], "src bigint, dst bigint"
            ),
            "release": spark.createDataFrame(
                [(2, 10), (2, 11)], "src bigint, dst bigint"
            ),
        },
    )
    dsl = (
        "MATCH (u:`RiskMining.TaxOfRiskUser`/`赌博App开发者`)"
        "-[:developed]->(app:`RiskMining.TaxOfRiskApp`/`赌博应用`), "
        "(b:`RiskMining.TaxOfRiskUser`/`赌博App老板`)-[:release]->(app) "
        "RETURN u.name, b.name, app.id"
    )
    rows = compile_query(dsl, g2).collect()
    assert [(r["u_name"], r["b_name"], r["app_id"]) for r in rows] == [
        ("dev1", "boss1", "appA")
    ]


def test_label_alternation_compile(spark):
    """(a:A|B) unions the two label tables (common columns) and tags each
    row with its source label."""
    a = spark.createDataFrame([(1, "x")], "vid bigint, name string")
    b = spark.createDataFrame([(2, "y")], "vid bigint, name string")
    g2 = PropertyGraph(
        {"A": a, "B": b},
        {"E": spark.createDataFrame([(1, 2)], "src bigint, dst bigint")},
    )
    rows = compile_query(
        "MATCH (s:A|B)-[]->(o:A|B) "
        "RETURN s.name AS sn, s.label AS sl, o.name AS on, o.label AS ol",
        g2,
    ).collect()
    assert [(r["sn"], r["sl"], r["on"], r["ol"]) for r in rows] == [
        ("x", "A", "y", "B")
    ]


def test_optional_match_concept_qualifier_scopes_to_optional(spark):
    """A /`concept` qualifier inside OPTIONAL MATCH filters the optional
    clause only — rows without the concept keep left-join NULLs instead
    of being dropped (and the main WHERE stays clean)."""
    users = spark.createDataFrame(
        [(1, "a"), (2, "b")], "vid bigint, name string"
    )
    tags = spark.createDataFrame(
        [(10, "x", "good"), (11, "y", "bad")],
        "vid bigint, name string, concept string",
    )
    g2 = PropertyGraph(
        {"U": users, "T": tags},
        {"r": spark.createDataFrame([(1, 10), (2, 11)], "src bigint, dst bigint")},
    )
    q = parse(
        "MATCH (a:U) OPTIONAL MATCH (a)-[:r]->(o:T/`good`) "
        "RETURN a.name AS an, o.name AS on"
    )
    assert q.where is None  # the conjunct belongs to the optional clause
    assert q.optionals[0].where is not None
    rows = {(r["an"], r["on"]) for r in compile_query(q, g2).collect()}
    assert rows == {("a", "x"), ("b", None)}


def test_label_alternation_tag_collision_raises(spark):
    a = spark.createDataFrame([(1, "x")], "vid bigint, label string")
    b = spark.createDataFrame([(2, "y")], "vid bigint, label string")
    g2 = PropertyGraph(
        {"A": a, "B": b},
        {"E": spark.createDataFrame([(1, 2)], "src bigint, dst bigint")},
    )
    with pytest.raises(ValueError, match="already share a 'label'"):
        compile_query("MATCH (s:A|B) RETURN s.vid AS v", g2).collect()


def test_label_surface_fuzz_deterministic():
    """Fuzz the r4 label surface (backquotes, dots, alternation,
    concept qualifiers): determinism + clean rejection on truncation."""
    import random

    rng = random.Random(17)
    labels = [
        ":User", ":Ns.Dotted", ":`Back.Quoted`", ":`名字`/`概念`",
        ":A|B", ":`X.Y`|Other", ":T/`with space`", ":`esc``aped`",
    ]
    for _ in range(150):
        lab1, lab2 = rng.choice(labels), rng.choice(labels)
        dsl = f"MATCH (a{lab1})-[:r]->(b{lab2}) RETURN a.vid AS v"
        try:
            q1, q2 = parse(dsl), parse(dsl)
            assert q1.nodes == q2.nodes and q1.where == q2.where
        except SyntaxError:
            pass
        cut = dsl[: rng.randrange(len(dsl))]
        try:
            parse(cut)
        except SyntaxError:
            pass


# ---------------------------------------------------------------------------
# round-4 edge surface: {m,n} quantifiers, per_node_limit, inline WHERE,
# linked edges (KGDSL.g4:197-221)
# ---------------------------------------------------------------------------


def test_brace_quantifier_equals_star_form(g):
    star = compile_query(
        "MATCH (a)-[e*1..3]->(b) WHERE a.vid = 1 RETURN DISTINCT b AS b", g
    ).collect()
    brace = compile_query(
        "MATCH (a)-[e]->{1,3}(b) WHERE a.vid = 1 RETURN DISTINCT b AS b", g
    ).collect()
    assert {r["b"] for r in star} == {r["b"] for r in brace}
    # {,n} starts at 1
    q = parse("MATCH (a)-[e]->{,2}(b) RETURN b AS b")
    assert (q.edges[0].lower, q.edges[0].upper) == (1, 2)
    with pytest.raises(SyntaxError, match="zero-hop"):
        parse("MATCH (a)-[e]->{0,2}(b) RETURN b AS b")
    with pytest.raises(SyntaxError, match="OPTIONAL"):
        parse("MATCH (a)-[e]->?(b) RETURN b AS b")
    with pytest.raises(SyntaxError, match="unbounded"):
        parse("MATCH (a)-[e]->{2,}(b) RETURN b AS b")


def test_per_node_limit_spelling(g):
    a = compile_query(
        "MATCH (a)-[e:E limit 1]->(b) RETURN a AS a, b AS b", g
    ).collect()
    b = compile_query(
        "MATCH (a)-[e:E PER_NODE_LIMIT 1]->(b) RETURN a AS a, b AS b", g
    ).collect()
    assert {tuple(r) for r in a} == {tuple(r) for r in b}


def test_inline_node_where(g):
    got = {
        (r["a"], r["b"])
        for r in compile_query(
            "MATCH (a WHERE a.vid >= 3)-[e]->(b WHERE b.name <> 'e') "
            "RETURN a AS a, b AS b",
            g,
        ).collect()
    }
    # edges from vid>=3 whose dst isn't 'e'(5): 3->4 only (4->5 excluded)
    assert got == {(3, 4)}


def test_linked_edge_udtf(g):
    from linkgraph.functions import UDTFS, register_udtf

    if "seq_upto" not in UDTFS:
        @register_udtf("seq_upto")
        def _seq_upto(c):
            return F.sequence(F.lit(1), c)
    rows = compile_query(
        "MATCH (a)-[l:seq_upto(a.vid)]->(b) WHERE a.vid = 3 "
        "RETURN a AS a, b AS b, l.value AS v ORDER BY b ASC",
        g,
    ).collect()
    assert [(r["a"], r["b"], r["v"]) for r in rows] == [
        (3, 1, 1), (3, 2, 2), (3, 3, 3)
    ]
    # parse golden
    q = parse("MATCH (a)-[l:seq_upto(a.vid, 2)]->(b) RETURN b AS b")
    assert q.edges[0].linked == (
        "seq_upto", (("ref", "a", "vid"), ("lit", 2))
    )


def test_linked_edge_respects_limit(g):
    from linkgraph.functions import UDTFS, register_udtf

    if "seq_upto" not in UDTFS:
        @register_udtf("seq_upto")
        def _seq_upto(c):
            return F.sequence(F.lit(1), c)
    rows = compile_query(
        "MATCH (a)-[l:seq_upto(a.vid) limit 2]->(b) WHERE a.vid = 4 "
        "RETURN b AS b ORDER BY b ASC",
        g,
    ).collect()
    assert [r["b"] for r in rows] == [1, 2]


def test_aliasless_per_node_limit(g):
    a = compile_query(
        "MATCH (a)-[per_node_limit 1]->(b) RETURN a AS a, b AS b", g
    ).collect()
    b = compile_query(
        "MATCH (a)-[e limit 1]->(b) RETURN a AS a, b AS b", g
    ).collect()
    assert {tuple(r) for r in a} == {tuple(r) for r in b}
