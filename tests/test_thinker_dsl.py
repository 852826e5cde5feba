"""Thinker concept-rule dialect tests.

Parse goldens mirror SimplifyThinkerParserTest.scala:30-160 and the
KGDSL.g4:960-998 grammar doc examples; execution tests check the
DataFrame lowering against hand-computed fixpoints."""

import pytest

from linkgraph.thinker_dsl import (
    ConceptRule,
    PriorityRule,
    RelationRule,
    apply_priority,
    infer_thinker,
    parse_thinker,
    run_thinker,
)


# ---------------------------------------------------------------------------
# parse goldens
# ---------------------------------------------------------------------------


def test_parse_rule_on_concept_golden():
    # SimplifyThinkerParserTest test1
    rules = parse_thinker(
        """
Define (危险水平分层/`很高危`) {
  R1:高血压分层/`临床并发症` and ("有并发症的糖尿病" in 症状) and 伸缩压>=140
  R2:Patient == "yes"
}
"""
    )
    assert len(rules) == 1
    (r,) = rules
    assert isinstance(r, ConceptRule)
    assert r.concept_type == "危险水平分层" and r.concept_inst == "很高危"
    assert len(r.lines) == 2  # two disjuncts
    l1, l2 = r.lines
    assert l1[0] == "bin" and l1[1] == "and"
    assert l2 == ("bin", "=", ("ref", "Patient", None), ("lit", "yes"))


def test_parse_grammar_doc_examples():
    # the three examples embedded in the grammar comments (KGDSL.g4:969-990)
    rules = parse_thinker(
        """
Define (患者状态/`缺少血肌酐数据`) {
    !血肌酐
}
Define (Med.drug)-[基本用药方案]->(药品/`ACEI+噻嗪类利尿剂`) {
  疾病/`高血压` and 药品/`多药方案`
}
DefinePriority(危险水平分层) {
  超高危=100
  高危=80
  中危=50
  低危=10
}
"""
    )
    c, rel, pri = rules
    assert isinstance(c, ConceptRule)
    assert c.lines == [("not", ("ref", "血肌酐", None))]
    assert isinstance(rel, RelationRule)
    assert rel.subj_type == "Med.drug" and rel.pred == "基本用药方案"
    assert rel.obj_type == "药品" and rel.obj_inst == "ACEI+噻嗪类利尿剂"
    (patterns, cond) = rel.lines[0]
    assert patterns == [] and cond[1] == "and"
    assert isinstance(pri, PriorityRule)
    assert pri.weights == {"超高危": 100, "高危": 80, "中危": 50, "低危": 10}


def test_parse_hits_and_description():
    rules = parse_thinker(
        """
Define (危险水平分层/`中危`) {
  R1: hits(高血压分层/`心血管危险因素`)>=3 or 高血压分层/`靶器官损害`
  R2: 血压水平分级/`2级高血压`
}
Description: "risk level"
"""
    )
    (r,) = rules
    assert r.desc == "risk level"
    l1 = r.lines[0]
    assert l1[1] == "or"
    assert l1[2] == (
        "bin", ">=",
        ("func", "hits", [("concept", "高血压分层", "心血管危险因素")]),
        ("lit", 3),
    )


def test_parse_relation_rule_with_body_patterns():
    # define_rule_on_relation_to_concept2 shape (typed aliases, pattern
    # conjuncts in the body)
    rules = parse_thinker(
        """
Define (a:InsDisease)-[:disclaim]->(d:InsComProd) {
    R0: 疾病/`高血压` and 疾病/`低血压`
    R1: (a)-[p:disclaimClause]->(b:InsDiseaseDisclaim) AND (b)-[:clauseVersion]->(d:InsComProd)
}
"""
    )
    (r,) = rules
    assert (r.subj_alias, r.subj_type) == ("a", "InsDisease")
    assert (r.obj_alias, r.obj_type, r.obj_inst) == ("d", "InsComProd", None)
    p0, c0 = r.lines[0]
    assert p0 == [] and c0[1] == "and"
    p1, c1 = r.lines[1]
    assert c1 is None
    assert [(a[0], a[1], a[3]) for a in p1] == [
        ("a", "disclaimClause", "b"), ("b", "clauseVersion", "d")
    ]
    assert p1[0][4] == {"b": "InsDiseaseDisclaim"}
    assert p1[1][4] == {"d": "InsComProd"}


def test_parse_rejects_garbage():
    with pytest.raises(SyntaxError):
        parse_thinker("Definitely not a rule")
    with pytest.raises(SyntaxError):
        parse_thinker("Define (A/`x`) { R1: a.b.c ( }")
    with pytest.raises(SyntaxError):
        parse_thinker("DefinePriority(T) { a = b }")


# ---------------------------------------------------------------------------
# execution
# ---------------------------------------------------------------------------


@pytest.fixture()
def med_facts(spark):
    rows = [
        # patient p1: complication + diabetes symptom + high bp
        ("p1", "belongTo", "高血压分层/临床并发症"),
        ("p1", "症状", "有并发症的糖尿病"),
        ("p1", "伸缩压", "150"),
        # p2: only the flag property path
        ("p2", "Patient", "yes"),
        # p3: high bp but no complication
        ("p3", "伸缩压", "160"),
        # p4: has a 血肌酐 fact (must NOT get the missing-data concept)
        ("p4", "血肌酐", "88"),
        ("p4", "伸缩压", "100"),
    ]
    return spark.createDataFrame(rows, "s string, p string, o string")


def test_concept_rule_fixpoint(med_facts):
    closure = run_thinker(
        """
Define (危险水平分层/`很高危`) {
  R1: 高血压分层/`临床并发症` and ("有并发症的糖尿病" in 症状) and 伸缩压>=140
  R2: Patient == "yes"
}
Define (患者状态/`缺少血肌酐数据`) {
  !血肌酐
}
""",
        med_facts,
    )
    got = {
        (r["s"], r["o"])
        for r in closure.where("p = 'belongTo'").collect()
    }
    assert ("p1", "危险水平分层/很高危") in got  # R1 holds
    assert ("p2", "危险水平分层/很高危") in got  # R2 holds
    assert ("p3", "危险水平分层/很高危") not in got  # bp alone insufficient
    missing = {s for s, o in got if o == "患者状态/缺少血肌酐数据"}
    assert "p4" not in missing and {"p1", "p2", "p3"} <= missing


def test_rules_chain_across_rounds(med_facts):
    # second rule consumes the first rule's derived concept -> needs the
    # fixpoint loop, not a single pass
    closure = run_thinker(
        """
Define (危险水平分层/`很高危`) {
  R1: 高血压分层/`临床并发症`
}
Define (随访/`每周`) {
  R1: 危险水平分层/`很高危`
}
""",
        med_facts,
    )
    got = {(r["s"], r["o"]) for r in closure.where("p='belongTo'").collect()}
    assert ("p1", "随访/每周") in got



def test_rule_chain_longer_than_max_iter_raises(med_facts):
    # 很高危 in round 1, 每周 in round 2, 复查 in round 3, none in round 4
    rules = parse_thinker(
        """
Define (危险水平分层/`很高危`) {
  R1: 高血压分层/`临床并发症`
}
Define (随访/`每周`) {
  R1: 危险水平分层/`很高危`
}
Define (随访/`复查`) {
  R1: 随访/`每周`
}
"""
    )
    with pytest.raises(RuntimeError, match="infer_thinker"):
        infer_thinker(med_facts, rules, max_iter=3)
    closure = infer_thinker(med_facts, rules, max_iter=4)
    got = {(r["s"], r["o"]) for r in closure.where("p='belongTo'").collect()}
    assert ("p1", "随访/复查") in got

def test_relation_rule_concept_object(spark):
    facts = spark.createDataFrame(
        [
            ("drugA", "type", "Med.drug"),
            ("drugB", "type", "Med.drug"),
            ("drugA", "belongTo", "疾病/高血压"),
            ("drugA", "belongTo", "药品/多药方案"),
            ("drugB", "belongTo", "疾病/高血压"),
        ],
        "s string, p string, o string",
    )
    closure = infer_thinker(
        facts,
        parse_thinker(
            """
Define (Med.drug)-[基本用药方案]->(药品/`ACEI+噻嗪类利尿剂`) {
  疾病/`高血压` and 药品/`多药方案`
}
"""
        ),
    )
    got = {
        (r["s"], r["o"])
        for r in closure.where("p = '基本用药方案'").collect()
    }
    assert got == {("drugA", "药品/ACEI+噻嗪类利尿剂")}


def test_relation_rule_pattern_body(spark):
    facts = spark.createDataFrame(
        [
            ("d1", "type", "InsDisease"),
            ("d2", "type", "InsDisease"),
            ("c1", "type", "InsDiseaseDisclaim"),
            ("prod", "type", "InsComProd"),
            ("d1", "disclaimClause", "c1"),
            ("c1", "clauseVersion", "prod"),
        ],
        "s string, p string, o string",
    )
    closure = infer_thinker(
        facts,
        parse_thinker(
            """
Define (a:InsDisease)-[:disclaim]->(d:InsComProd) {
    R1: (a)-[p:disclaimClause]->(b:InsDiseaseDisclaim) AND (b)-[:clauseVersion]->(d:InsComProd)
}
"""
        ),
    )
    got = {(r["s"], r["o"]) for r in closure.where("p='disclaim'").collect()}
    assert got == {("d1", "prod")}


def test_hits_with_taxonomy(spark):
    facts = spark.createDataFrame(
        [
            ("p1", "belongTo", "危险因素/吸烟"),
            ("p1", "belongTo", "危险因素/肥胖"),
            ("p1", "belongTo", "危险因素/高龄"),
            ("p2", "belongTo", "危险因素/吸烟"),
        ],
        "s string, p string, o string",
    )
    isa = spark.createDataFrame(
        [
            ("危险因素/吸烟", "高血压分层/心血管危险因素"),
            ("危险因素/肥胖", "高血压分层/心血管危险因素"),
            ("危险因素/高龄", "高血压分层/心血管危险因素"),
        ],
        "child string, parent string",
    )
    closure = infer_thinker(
        facts,
        parse_thinker(
            """
Define (危险水平分层/`中危`) {
  R1: hits(高血压分层/`心血管危险因素`)>=3
}
"""
        ),
        isa=isa,
    )
    got = {(r["s"], r["o"]) for r in closure.where("p='belongTo'").collect()}
    assert ("p1", "危险水平分层/中危") in got
    assert ("p2", "危险水平分层/中危") not in got


def test_priority(spark):
    facts = spark.createDataFrame(
        [
            ("p1", "belongTo", "危险水平分层/中危"),
            ("p1", "belongTo", "危险水平分层/超高危"),
            ("p2", "belongTo", "危险水平分层/低危"),
        ],
        "s string, p string, o string",
    )
    (pri,) = parse_thinker(
        "DefinePriority(危险水平分层) {\n 超高危=100\n 中危=50\n 低危=10\n}"
    )
    got = {
        (r["s"], r["concept"], r["priority"])
        for r in apply_priority(facts, pri).collect()
    }
    assert got == {
        ("p1", "危险水平分层/超高危", 100),
        ("p2", "危险水平分层/低危", 10),
    }


def test_relation_rule_condition_on_pattern_alias(spark):
    """b.score in a relation-rule body reads the b BINDING's facts, not
    the subject's (r4 review fix)."""
    facts = spark.createDataFrame(
        [
            ("a1", "type", "T"),
            ("a2", "type", "T"),
            ("b1", "score", "9"),
            ("b2", "score", "1"),
            ("a1", "r", "b1"),
            ("a2", "r", "b2"),
            # subjects carry a DIFFERENT score — must not be consulted
            ("a1", "score", "0"),
            ("a2", "score", "99"),
        ],
        "s string, p string, o string",
    )
    closure = infer_thinker(
        facts,
        parse_thinker(
            "Define (a:T)-[:flag]->(d:U/`v`) {\n"
            "    R1: (a)-[:r]->(b) and b.score >= 5\n"
            "}"
        ),
    )
    got = {r["s"] for r in closure.where("p='flag'").collect()}
    assert got == {"a1"}


def test_pattern_node_concept_qualifier_respected(spark):
    """(b:B/`special`) in a body pattern restricts b to belongTo
    B/special members (r4 review fix — previously dropped)."""
    facts = spark.createDataFrame(
        [
            ("a1", "type", "T"),
            ("a2", "type", "T"),
            ("b1", "type", "B"),
            ("b2", "type", "B"),
            ("b1", "belongTo", "B/special"),
            ("a1", "r", "b1"),
            ("a2", "r", "b2"),
        ],
        "s string, p string, o string",
    )
    closure = infer_thinker(
        facts,
        parse_thinker(
            "Define (a:T)-[:flag]->(d:U/`v`) {\n"
            "    R1: (a)-[:r]->(b:B/`special`)\n"
            "}"
        ),
    )
    got = {r["s"] for r in closure.where("p='flag'").collect()}
    assert got == {"a1"}


def test_hits_counts_direct_concept_not_in_taxonomy(spark):
    """A listed hits() concept absent from the isa frame still counts
    its direct belongTo facts (r4 review fix)."""
    facts = spark.createDataFrame(
        [("p1", "belongTo", "X/a"), ("p1", "belongTo", "Y/direct")],
        "s string, p string, o string",
    )
    isa = spark.createDataFrame(
        [("X/a", "X/root")], "child string, parent string"
    )
    closure = infer_thinker(
        facts,
        parse_thinker(
            "Define (Z/`hit2`) {\n  R1: hits(X/`root`, Y/`direct`) >= 2\n}"
        ),
        isa=isa,
    )
    got = {(r["s"], r["o"]) for r in closure.where("p='belongTo'").collect()}
    assert ("p1", "Z/hit2") in got


def test_edge_predicate_property_condition_raises(spark):
    facts = spark.createDataFrame(
        [("a1", "type", "T"), ("a1", "r", "b1")],
        "s string, p string, o string",
    )
    with pytest.raises(Exception, match="not a bound vertex alias"):
        infer_thinker(
            facts,
            parse_thinker(
                "Define (a:T)-[:flag]->(d:U/`v`) {\n"
                "    R1: (a)-[p:r]->(b) and p.kind == 'x'\n"
                "}"
            ),
        ).where("p='flag'").collect()


# ---------------------------------------------------------------------------
# fuzz: determinism + clean rejection (the kgdsl/gql fuzz discipline)
# ---------------------------------------------------------------------------


def test_thinker_parser_fuzz_deterministic():
    """Seeded fuzz over the three Define forms: every generated script
    parses to the same AST repr twice, and truncation at any point
    raises nothing but SyntaxError."""
    import random

    rng = random.Random(41)
    concepts = ["危险/`很高`", "Seg/`BUILDING`", "A.B/`x y`"]
    conds = [
        "prop >= 10", "!prop", 'name == "v"', '("x" in tags)',
        "危险/`很高`", "hits(Seg/`BUILDING`) >= 2",
        "a1 > 1 and (b2 < 3 or !c3)",
    ]
    pats = [
        "(a)-[:r]->(b)", "(a)-[p:r]->(b:T)", "(a)-[:r]->(b:T/`c`)",
    ]
    for _ in range(120):
        kind = rng.randrange(3)
        if kind == 0:
            lines = "\n".join(
                f"  R{i}: {rng.choice(conds)}"
                for i in range(rng.randrange(1, 4))
            )
            script = f"Define ({rng.choice(concepts)}) {{\n{lines}\n}}"
        elif kind == 1:
            body = " AND ".join(
                [rng.choice(pats)] + [rng.choice(conds)][: rng.randrange(2)]
            )
            obj = rng.choice(["(d:U)", "(:U/`inst`)"])
            script = (
                f"Define (a:T)-[:pred]->{obj} {{\n  R1: {body}\n}}"
            )
        else:
            ws = "\n".join(
                f"  w{i} = {rng.randrange(100)}"
                for i in range(rng.randrange(1, 4))
            )
            script = f"DefinePriority(T) {{\n{ws}\n}}"
        if rng.random() < 0.4:
            script += '\nDescription: "d"'
        try:
            r1, r2 = parse_thinker(script), parse_thinker(script)
            assert repr(r1) == repr(r2)
        except SyntaxError:
            pass
        cut = script[: rng.randrange(len(script))]
        try:
            parse_thinker(cut)
        except SyntaxError:
            pass
