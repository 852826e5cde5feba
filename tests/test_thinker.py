from linkgraph.thinker import find, infer, parse_rule


def test_parse_rule():
    r = parse_rule("(?x, anc, ?z) <- (?x, parent, ?y), (?y, anc, ?z)")
    assert r.head.p == "anc" and len(r.body) == 2
    assert r.body[0].s == "?x" and r.body[1].o == "?z"


def test_transitive_closure(spark):
    triples = spark.createDataFrame(
        [("a", "parent", "b"), ("b", "parent", "c"), ("c", "parent", "d")],
        "s string, p string, o string",
    )
    rules = [
        parse_rule("(?x, anc, ?y) <- (?x, parent, ?y)"),
        parse_rule("(?x, anc, ?z) <- (?x, parent, ?y), (?y, anc, ?z)"),
    ]
    closure = infer(triples, rules)
    anc = {(r["s"], r["o"]) for r in find(closure, p="anc").collect()}
    assert anc == {
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    }
    # wildcard + bound-subject query (Thinker.find(s, p, o) shape)
    assert {r["o"] for r in find(closure, s="b", p="anc").collect()} == {"c", "d"}


def test_symmetry_and_constants(spark):
    triples = spark.createDataFrame(
        [("a", "married", "b"), ("c", "likes", "pizza")],
        "s string, p string, o string",
    )
    rules = [
        parse_rule("(?y, married, ?x) <- (?x, married, ?y)"),
        # constant in body position: everyone who likes pizza is happy
        parse_rule("(?x, is, happy) <- (?x, likes, pizza)"),
    ]
    closure = infer(triples, rules)
    assert {tuple(r) for r in find(closure, p="married").collect()} == {
        ("a", "married", "b"),
        ("b", "married", "a"),
    }
    assert {tuple(r) for r in find(closure, p="is").collect()} == {
        ("c", "is", "happy")
    }


def test_fixpoint_on_cycle_terminates(spark):
    triples = spark.createDataFrame(
        [("a", "link", "b"), ("b", "link", "a")], "s string, p string, o string"
    )
    rules = [
        parse_rule("(?x, reach, ?y) <- (?x, link, ?y)"),
        parse_rule("(?x, reach, ?z) <- (?x, link, ?y), (?y, reach, ?z)"),
    ]
    closure = infer(triples, rules)
    reach = {(r["s"], r["o"]) for r in find(closure, p="reach").collect()}
    assert reach == {("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")}


def test_repeated_variable_in_atom(spark):
    triples = spark.createDataFrame(
        [("a", "link", "a"), ("a", "link", "b")], "s string, p string, o string"
    )
    rules = [parse_rule("(?x, selfloop, yes) <- (?x, link, ?x)")]
    closure = infer(triples, rules)
    assert {tuple(r) for r in find(closure, p="selfloop").collect()} == {
        ("a", "selfloop", "yes")
    }


def test_max_iter_raises_instead_of_truncating(spark):
    import pytest

    nodes = "abcdef"
    triples = spark.createDataFrame(
        [(x, "link", y) for x, y in zip(nodes, nodes[1:])],
        "s string, p string, o string",
    )
    rules = [
        parse_rule("(?x, reach, ?y) <- (?x, link, ?y)"),
        parse_rule("(?x, reach, ?z) <- (?x, link, ?y), (?y, reach, ?z)"),
    ]
    # the 5-link chain adds reach facts in 5 rounds; the 6th finds none
    with pytest.raises(RuntimeError, match="thinker.infer"):
        infer(triples, rules, max_iter=5)
    closure = infer(triples, rules, max_iter=6)
    assert {(r["s"], r["o"]) for r in find(closure, p="reach").collect()} == {
        (x, y) for i, x in enumerate(nodes) for y in nodes[i + 1:]
    }
