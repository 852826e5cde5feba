"""Thinker concept-rule dialect: the reference's *surface syntax* for
concept rules, parsed onto DataFrame evaluation.

Reference parity:
  grammar  /root/reference/reasoner/kgdsl-parser/src/main/antlr4/com/antgroup/openspg/reasoner/KGDSL.g4:960-998
           (thinker_script: define_rule_on_concept |
            define_rule_on_relation_to_concept |
            define_proiority_rule_on_concept) with the doc examples in
           the grammar comments (患者状态 / Med.drug / DefinePriority)
  parser   reasoner/thinker/src/main/scala/.../SimplifyThinkerParser.scala,
           golden shapes mirrored from SimplifyThinkerParserTest.scala:30-160
  engine   reasoner/thinker/src/main/java/.../engine/DefaultThinker.java —
           backward chaining per query; as in thinker.py we saturate
           FORWARD instead (the Spark-shaped equivalent) and answer
           find() from the closure.

Surface::

    Define (危险水平分层/`很高危`) {
        R1: 高血压分层/`临床并发症` and ("有并发症的糖尿病" in 症状) and 伸缩压 >= 140
        R2: Patient == "yes"
    }
    Define (s:Med.drug)-[:基本用药方案]->(o:药品/`ACEI+噻嗪类利尿剂`) {
        R1: 疾病/`高血压` and 药品/`多药方案`
    }
    Description: "..."
    DefinePriority(危险水平分层) {
        超高危 = 100
        高危 = 80
    }

Facts are (s, p, o) string triples (thinker.py's model):
  * concept membership  (entity, 'belongTo', 'Type/instance')
  * entity typing       (entity, 'type', 'Type')
  * properties          (entity, prop, value)  — numbers stored as text
  * taxonomy            optional isA frame (child, parent) over
                        'Type/instance' concept ids for hits()

Rule semantics (each R-line is one disjunct — SimplifyThinkerParserTest
test2: lines OR, the line body keeps its own and/or structure):
  * ``Type/`inst```          the subject belongs to that concept
  * ``prop``                 the subject has any ``prop`` fact (``!prop``
                             — the 患者状态 doc example — none)
  * ``prop >= 140``          numeric compare on the subject's prop value
  * ``"lit" in prop``        the subject has fact (s, prop, 'lit')
  * ``hits(Type/`a`, ...)``  how many DISTINCT concepts under the listed
                             ones (taxonomy descendants included) the
                             subject belongs to
  * ``(a)-[p:pred]->(b:T)``  relation-rule bodies may join triple
                             patterns (define_rule_on_relation_to_concept2
                             shape); conditions on ``alias.prop`` read
                             that binding's property facts

Everything lowers to filtered aggregations of the triple table keyed on
the subject/binding (one hash-shuffle per atomic condition, all joins
on entity keys) — no collect(), no per-row Python. Saturation is a
fixpoint loop with RULE-level incrementality: after round 1, only rules
whose read-set intersects some rule's production re-derive (conditions
are not pure Horn joins, so thinker.infer's fact-level semi-naive
delta restriction does not apply here).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkgraph import gql, kgdsl
from linkgraph.pregel import saturate


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------


@dataclass
class ConceptRule:
    """``Define (Type/`inst`) { lines }`` — derives belongTo facts."""

    concept_type: str
    concept_inst: str
    lines: list = field(default_factory=list)  # one expr AST per R-line
    desc: str | None = None

    @property
    def concept_id(self) -> str:
        return f"{self.concept_type}/{self.concept_inst}"


@dataclass
class RelationRule:
    """``Define (s:T)-[:pred]->(o:Type/`inst`|o:Type) { lines }`` —
    derives (subject, pred, object) facts."""

    subj_alias: str
    subj_type: str | None
    pred: str
    obj_alias: str
    obj_type: str | None
    obj_inst: str | None  # concept-instance object -> fixed entity id
    lines: list = field(default_factory=list)  # (patterns, cond) per line
    desc: str | None = None


@dataclass
class PriorityRule:
    """``DefinePriority(Type) { inst = weight ... }``"""

    concept_type: str
    weights: dict = field(default_factory=dict)  # inst -> int
    desc: str | None = None


# ---------------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------------


class _ThinkerExprParser(kgdsl._ExprParser):
    """kgdsl expression grammar + concept references: a bare name (no
    dot) followed by ``/`` and a name parses as ("concept", type, inst).
    ``hits(...)`` keeps its concept args as-is."""

    def _primary(self):
        t = self.peek()
        if (
            t[0] == "name"
            and "." not in t[1]
            and t[1].lower() not in ("null", "true", "false")
            and self.toks[self.i + 1] == ("op", "/")
            and self.toks[self.i + 2][0] == "name"
        ):
            self.next()
            self.next()
            inst = self.next()[1]
            return ("concept", t[1], inst)
        return super()._primary()

    def _in_operand(self, opener):
        # ``"lit" in prop`` — membership in a multi-valued property
        # (SimplifyThinkerParserTest test1: "有并发症的糖尿病" in 症状)
        if opener[0] == "name":
            if "." in opener[1]:
                alias, _, prop = opener[1].partition(".")
                return ("ref", alias, prop)
            return ("ref", opener[1], None)
        return super()._in_operand(opener)


def _parse_line_expr(toks) -> tuple:
    p = _ThinkerExprParser(list(toks) + [("eof", "")])
    e = p._expr()
    if p.peek()[0] != "eof":
        raise SyntaxError(f"trailing tokens in thinker rule line: {p.peek()}")
    return e


def _strip_rule_name(line):
    """Drop a leading ``R1:`` / ``R1("desc"):`` rule-name prefix
    (rule_body_content, KGDSL.g4:1018); unnamed lines (the 患者状态 doc
    example's ``!血肌酐``) pass through whole."""
    if len(line) > 1 and line[0][0] == "name" and "." not in line[0][1]:
        if line[1] == ("op", ":"):
            return line[2:]
        if (
            len(line) > 4
            and line[1] == ("op", "(")
            and line[2][0] == "str"
            and line[3] == ("op", ")")
            and line[4] == ("op", ":")
        ):
            return line[5:]
    return line


def _split_top_and(line):
    """Split a rule line into top-level AND units (parens respected) so
    triple-pattern atoms separate from value conditions."""
    units, cur, depth = [], [], 0
    for t in line:
        if t[0] == "op" and t[1] in "([{":
            depth += 1
        elif t[0] == "op" and t[1] in ")]}":
            depth -= 1
        if depth == 0 and t == ("kw", "and"):
            units.append(cur)
            cur = []
            continue
        cur.append(t)
    units.append(cur)
    return units


def _is_pattern_unit(unit) -> bool:
    """``(a)-[p:pred]->(b:T)`` — a balanced leading paren group followed
    by an edge arrow."""
    if not unit or unit[0] != ("op", "("):
        return False
    depth = 0
    for i, t in enumerate(unit):
        if t == ("op", "("):
            depth += 1
        elif t == ("op", ")"):
            depth -= 1
            if depth == 0:
                return i + 1 < len(unit) and unit[i + 1] in (
                    ("op", "-"), ("op", "<-"),
                )
    return False


class _ThinkerParser:
    def __init__(self, text: str):
        self.toks = kgdsl._tokenize(text)
        self.i = 0

    def _peek(self):
        return self.toks[self.i]

    def _next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def _skip_nl(self):
        while self._peek()[0] == "nl":
            self._next()

    def _expect(self, kind, val=None):
        t = self._next()
        if t[0] != kind or (val is not None and t[1] != val):
            raise SyntaxError(f"expected {val or kind}, got {t}")
        return t

    def _accept(self, kind, val=None) -> bool:
        t = self._peek()
        if t[0] == kind and (val is None or t[1] == val):
            self.i += 1
            return True
        return False

    def parse(self) -> list:
        rules = []
        self._skip_nl()
        while self._peek()[0] != "eof":
            head = self._expect("name")[1]
            if head == "Define":
                rules.append(self._define())
            elif head == "DefinePriority":
                rules.append(self._priority())
            else:
                raise SyntaxError(
                    f"expected Define / DefinePriority, got {head!r}"
                )
            self._skip_nl()
            # optional Description: "..." (KGDSL.g4:994)
            if self._peek() == ("name", "Description"):
                self._next()
                self._expect("op", ":")
                rules[-1].desc = self._expect("str")[1]
                self._skip_nl()
        return rules

    # -- heads ----------------------------------------------------------
    def _define(self):
        self._expect("op", "(")
        # concept head: (Type/`inst`)  — no ':' before the first name
        if self._peek()[0] == "name" and self.toks[self.i + 1] == ("op", "/"):
            ctype = self._next()[1]
            self._expect("op", "/")
            inst = self._expect("name")[1]
            self._expect("op", ")")
            lines = self._body_lines()
            return ConceptRule(ctype, inst, [
                _parse_line_expr(_strip_rule_name(ln)) for ln in lines
            ])
        # relation head: (alias?:Type)-[alias?:pred]->(alias?:Type[/`inst`])
        s_alias, s_type, _ = self._node_decl(default_alias="s")
        self._expect("op", ")")
        self._expect("op", "-")
        self._expect("op", "[")
        if self._peek()[0] == "name" and self.toks[self.i + 1] == ("op", "]"):
            pred = self._next()[1]  # bare [pred] — the Med.drug doc example
        else:
            if self._peek()[0] == "name":
                self._next()  # predicate alias — not referenced in lowering
            self._expect("op", ":")
            pred = self._expect("name")[1]
        self._expect("op", "]")
        self._expect("op", "->")
        self._expect("op", "(")
        o_alias, o_type, o_inst = self._node_decl(default_alias="o")
        self._expect("op", ")")
        lines = self._body_lines()
        parsed = []
        for ln in lines:
            body = _strip_rule_name(ln)
            patterns, conds = [], []
            for unit in _split_top_and(body):
                if _is_pattern_unit(unit):
                    atoms, concept_conds = self._pattern_atoms(unit)
                    patterns.append(atoms)
                    conds.extend(concept_conds)
                else:
                    conds.append(_parse_line_expr(unit))
            cond = None
            for c in conds:
                cond = c if cond is None else ("bin", "and", cond, c)
            parsed.append((sum(patterns, []), cond))
        return RelationRule(s_alias, s_type, pred, o_alias, o_type, o_inst, parsed)

    def _node_decl(self, default_alias: str):
        """``alias:Type``, ``:Type``, ``alias:Type/`inst``` inside a
        relation head's parens."""
        alias = default_alias
        if self._peek()[0] == "name" and self.toks[self.i + 1] == ("op", ":"):
            alias = self._next()[1]
        self._accept("op", ":")
        typ = self._expect("name")[1]
        inst = None
        if self._accept("op", "/"):
            inst = self._expect("name")[1]
        return alias, typ, inst

    @staticmethod
    def _pattern_atoms(unit) -> list:
        """Parse one ``(a)-[p:pred]->(b:T)`` chain into
        [(src_alias, pred, pred_alias, dst_alias, {alias: type})]."""
        p = kgdsl._PatternParser(list(unit) + [("eof", "")])
        q = gql.Query()
        # reuse the kgdsl pattern-chain node/edge grammar
        left = p._node(q)
        atoms = []
        while p.peek() in (("op", "-"), ("op", "<-")):
            back = p.next()[1] == "<-"
            alias = rel = None
            if p.accept("op", "["):
                if p.peek()[0] == "name":
                    alias = p.next()[1]
                if p.accept("op", ":"):
                    rel = p.expect("name")[1]
                p.expect("op", "]")
            if back:
                p.expect("op", "-")
            else:
                p.expect("op", "->")
            right = p._node(q)
            src, dst = (right, left) if back else (left, right)
            if rel is None:
                raise SyntaxError("thinker body patterns need a :predicate")
            atoms.append((src, rel, alias, dst))
            left = right
        if p.peek()[0] != "eof":
            raise SyntaxError(f"trailing tokens in body pattern: {p.peek()}")
        types = {a: n.label for a, n in q.nodes.items() if n.label}
        # concept qualifiers on pattern nodes ((b:B/`special`)) become
        # membership conditions on that BINDING (belongTo 'B/special'),
        # not silently dropped
        concept_conds = []
        for c in p.concept_filters:
            alias = c[2][1]
            label = types.get(alias)
            cid = f"{label}/{c[3][1]}" if label else c[3][1]
            concept_conds.append(("concept_of", alias, cid))
        return [(*a, types) for a in atoms], concept_conds

    def _priority(self):
        self._expect("op", "(")
        ctype = self._expect("name")[1]
        self._expect("op", ")")
        weights: dict[str, int] = {}
        for ln in self._body_lines():
            if (
                len(ln) != 3
                or ln[0][0] != "name"
                or ln[1] not in (("op", "="), ("op", "=="))
                or ln[2][0] != "num"
            ):
                raise SyntaxError(f"DefinePriority line must be inst = num: {ln}")
            weights[ln[0][1]] = int(float(ln[2][1]))
        return PriorityRule(ctype, weights)

    # -- body -----------------------------------------------------------
    def _body_lines(self):
        self._skip_nl()
        self._expect("op", "{")
        depth = 1
        toks = []
        while depth:
            t = self._next()
            if t[0] == "eof":
                raise SyntaxError("unterminated thinker rule body")
            if t == ("op", "{"):
                depth += 1
            elif t == ("op", "}"):
                depth -= 1
                if depth == 0:
                    break
            toks.append(t)
        return [ln for ln in kgdsl._split_lines(toks) if ln]


def parse_thinker(text: str) -> list:
    """Parse a thinker_script into [ConceptRule | RelationRule |
    PriorityRule] (golden surface, SimplifyThinkerParser analog)."""
    return _ThinkerParser(text).parse()


# ---------------------------------------------------------------------------
# evaluation
# ---------------------------------------------------------------------------


def _descendants(isa: DataFrame | None, concept_ids: list[str]):
    """concept ids + their taxonomy descendants (hits() counts concrete
    tags under the named concepts)."""
    if isa is None:
        return None
    from linkgraph.concepts import concept_closure

    cl = concept_closure(isa)
    return cl.where(F.col("ancestor").isin(concept_ids)).select("concept")


class _CondScope:
    """Condition frames over the triple table, each keyed on a BINDING
    column of the evaluation frame (the rule subject by default; a
    pattern alias when the atom names one): every atomic condition
    joins exactly one aggregated frame."""

    def __init__(self, facts: DataFrame, isa: DataFrame | None, subject_col: str):
        self.facts = facts
        self.isa = isa
        self.subject_col = subject_col
        # (df_key_col, frame keyed on '__key', value col name)
        self.frames: list[tuple[str, DataFrame, str]] = []
        self.n = 0

    def _add(self, frame: DataFrame, col: str, key_col: str | None) -> str:
        self.frames.append((key_col or self.subject_col, frame, col))
        return col

    def concept_flag(self, concept_id: str, key_col: str | None = None) -> str:
        c = f"__c{self.n}"
        self.n += 1
        return self._add(
            self.facts.where(
                (F.col("p") == "belongTo") & (F.col("o") == concept_id)
            ).select(F.col("s").alias("__key"), F.lit(True).alias(c)).distinct(),
            c,
            key_col,
        )

    def prop_value(self, prop: str, key_col: str | None = None) -> str:
        c = f"__v{self.n}"
        self.n += 1
        return self._add(
            self.facts.where(F.col("p") == prop)
            .groupBy(F.col("s").alias("__key"))
            .agg(F.min("o").alias(c)),
            c,
            key_col,
        )

    def member_flag(self, prop: str, lit, key_col: str | None = None) -> str:
        c = f"__m{self.n}"
        self.n += 1
        return self._add(
            self.facts.where((F.col("p") == prop) & (F.col("o") == F.lit(lit)))
            .select(F.col("s").alias("__key"), F.lit(True).alias(c))
            .distinct(),
            c,
            key_col,
        )

    def hits_count(self, concept_ids: list[str]) -> str:
        c = f"__h{self.n}"
        self.n += 1
        tags = self.facts.where(F.col("p") == "belongTo")
        desc = _descendants(self.isa, concept_ids)
        if desc is not None:
            # descendants PLUS the named ids themselves: a listed concept
            # absent from the taxonomy must still count its direct tags,
            # exactly like the no-taxonomy path
            spark = self.facts.sparkSession
            ids_df = spark.createDataFrame(
                [(i,) for i in concept_ids], "concept string"
            )
            desc = desc.unionByName(ids_df).distinct()
            tags = tags.join(
                F.broadcast(desc.withColumnRenamed("concept", "o")), "o"
            )
        else:
            tags = tags.where(F.col("o").isin(concept_ids))
        return self._add(
            tags.groupBy(F.col("s").alias("__key")).agg(
                F.countDistinct("o").alias(c)
            ),
            c,
            None,
        )


def _compile_cond(e, scope: _CondScope, cols: dict) -> Column:
    """Condition AST -> Column; ``cols`` maps atom-id -> joined column."""
    k = e[0]
    if k in ("concept", "concept_of"):
        return F.coalesce(F.col(cols[id(e)]), F.lit(False))
    if k == "ref":
        # bare property name: existence/truthiness of the subject's fact
        return F.col(cols[id(e)]).isNotNull()
    if k == "in":
        return F.coalesce(F.col(cols[id(e)]), F.lit(False))
    if k == "func" and e[1] == "hits":
        return F.coalesce(F.col(cols[id(e)]), F.lit(0))
    if k == "lit":
        return F.lit(e[1])
    if k == "not":
        return ~_compile_cond(e[1], scope, cols)
    if k == "bin":
        op = e[1]
        left, right = e[2], e[3]
        lc = _compile_cond(left, scope, cols)
        rc = _compile_cond(right, scope, cols)
        # property-vs-number comparisons cast the (string) fact value
        numeric = any(
            x[0] == "lit"
            and isinstance(x[1], (int, float))
            and not isinstance(x[1], bool)
            for x in (left, right)
        )
        if op in ("<", "<=", ">", ">=") or (op in ("=", "<>") and numeric):
            if left[0] == "ref":
                lc = F.col(cols[id(left)]).cast("double")
            if right[0] == "ref":
                rc = F.col(cols[id(right)]).cast("double")
        elif op in ("=", "<>"):
            if left[0] == "ref":
                lc = F.col(cols[id(left)])
            if right[0] == "ref":
                rc = F.col(cols[id(right)])
        return gql._BIN_OPS[op](lc, rc)
    raise ValueError(f"cannot compile thinker condition {e}")


def _apply_conditions(
    df: DataFrame,
    e,
    facts: DataFrame,
    isa: DataFrame | None,
    subject_col: str = "__subj",
    alias_cols: dict | None = None,
) -> DataFrame:
    """Filter a binding frame by one R-line's condition expression.
    ``alias.prop`` refs for a bound pattern alias read THAT binding's
    facts (keyed on its column); everything else is subject-scoped.
    Returns df with its original columns."""
    alias_cols = alias_cols or {}
    scope = _CondScope(facts, isa, subject_col)
    cols: dict[int, str] = {}

    def ref_key(alias: str | None) -> str | None:
        return alias_cols.get(alias) if alias else None

    def visit(x):
        if not isinstance(x, tuple):
            return
        if x[0] == "concept":
            cols[id(x)] = scope.concept_flag(f"{x[1]}/{x[2]}")
        elif x[0] == "concept_of":  # pattern-node /`inst` qualifier
            key = alias_cols.get(x[1])
            if key is None:
                raise ValueError(
                    f"concept qualifier names unbound alias {x[1]!r}"
                )
            cols[id(x)] = scope.concept_flag(x[2], key)
        elif x[0] == "ref":
            if x[2] and alias_cols:
                if x[1] not in alias_cols:
                    raise ValueError(
                        f"condition references {x[1]}.{x[2]} but {x[1]!r} "
                        "is not a bound vertex alias (edge-predicate "
                        "properties are not representable in the triple "
                        "model — lift them to vertex facts)"
                    )
                cols[id(x)] = scope.prop_value(x[2], alias_cols[x[1]])
            else:
                cols[id(x)] = scope.prop_value(x[2] if x[2] else x[1])
        elif x[0] == "in":
            if x[1][0] != "lit" or x[2][0] != "ref":
                raise ValueError("thinker `in` needs \"lit\" in prop")
            ref = x[2]
            if ref[2] and ref[1] in alias_cols:
                cols[id(x)] = scope.member_flag(
                    ref[2], x[1][1], alias_cols[ref[1]]
                )
            else:
                cols[id(x)] = scope.member_flag(
                    ref[2] if ref[2] else ref[1], x[1][1]
                )
            return  # children already consumed
        elif x[0] == "func" and x[1] == "hits":
            ids = []
            for a in x[2]:
                if a[0] != "concept":
                    raise ValueError(
                        "hits() supports concept arguments (Type/`inst`)"
                    )
                ids.append(f"{a[1]}/{a[2]}")
            cols[id(x)] = scope.hits_count(ids)
            return
        if x[0] == "bin":
            visit(x[2])
            visit(x[3])
        elif x[0] == "not":
            visit(x[1])
        elif x[0] == "func":
            for a in x[2]:
                visit(a)

    visit(e)
    keep = df.columns
    for key_col, frame, _val in scope.frames:
        df = df.join(
            frame, F.col(key_col) == F.col("__key"), "left"
        ).drop("__key")
    return df.where(_compile_cond(e, scope, cols)).select(*keep)


def _typed_entities(facts: DataFrame, typ: str | None) -> DataFrame:
    if typ is None:
        return facts.select(F.col("s").alias("__subj")).distinct()
    return (
        facts.where((F.col("p") == "type") & (F.col("o") == typ))
        .select(F.col("s").alias("__subj"))
        .distinct()
    )


def _eval_concept_rule(
    rule: ConceptRule, facts: DataFrame, isa: DataFrame | None
) -> DataFrame:
    subjects = facts.select(F.col("s").alias("__subj")).distinct()
    parts = [
        _apply_conditions(subjects, line, facts, isa) for line in rule.lines
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct().select(
        F.col("__subj").alias("s"),
        F.lit("belongTo").alias("p"),
        F.lit(rule.concept_id).alias("o"),
    )


def _eval_relation_rule(
    rule: RelationRule, facts: DataFrame, isa: DataFrame | None
) -> DataFrame:
    """One frame per R-line: subject domain x pattern joins, conditions
    on top; head projects (subj, pred, obj)."""
    parts = []
    for patterns, cond in rule.lines:
        df = _typed_entities(facts, rule.subj_type).withColumnRenamed(
            "__subj", f"__a_{rule.subj_alias}"
        )
        bound = {rule.subj_alias}
        for src, pred, _palias, dst, types in patterns:
            e = facts.where(F.col("p") == pred).select(
                F.col("s").alias(f"__a_{src}"), F.col("o").alias(f"__a_{dst}")
            )
            for a in (src, dst):
                if a in types:
                    e = e.join(
                        _typed_entities(facts, types[a]).withColumnRenamed(
                            "__subj", f"__a_{a}"
                        ),
                        f"__a_{a}",
                    )
            on = [f"__a_{a}" for a in (src, dst) if a in bound]
            df = df.join(e, on) if on else df.crossJoin(e)
            bound |= {src, dst}
        if cond is not None:
            # alias-qualified refs/concept qualifiers read their own
            # binding; unqualified atoms are subject-scoped
            df = _apply_conditions(
                df,
                cond,
                facts,
                isa,
                subject_col=f"__a_{rule.subj_alias}",
                alias_cols={a: f"__a_{a}" for a in bound},
            )
        if rule.obj_inst is not None:
            obj = F.lit(f"{rule.obj_type}/{rule.obj_inst}")
        elif rule.obj_alias in bound:
            obj = F.col(f"__a_{rule.obj_alias}")
        else:
            raise ValueError(
                f"relation rule object {rule.obj_alias!r} is neither a "
                "concept instance nor bound by a body pattern"
            )
        parts.append(
            df.select(
                F.col(f"__a_{rule.subj_alias}").alias("s"),
                F.lit(rule.pred).alias("p"),
                obj.alias("o"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def _rule_reads(rule) -> set:
    """Static read-set: which derivable facts could change this rule's
    result. ('c', id) = belongTo to a concept; ('p', pred) = a relation
    predicate; 'ANY_BELONGTO' = hits() (taxonomy descendants are not
    statically known). Plain property reads are never derivable, so they
    don't appear."""
    reads: set = set()

    def walk(e):
        if not isinstance(e, tuple):
            return
        if e[0] == "concept":
            reads.add(("c", f"{e[1]}/{e[2]}"))
        elif e[0] == "concept_of":
            reads.add(("c", e[2]))
        elif e[0] == "func" and e[1] == "hits":
            reads.add("ANY_BELONGTO")
        elif e[0] == "bin":
            walk(e[2])
            walk(e[3])
        elif e[0] == "not":
            walk(e[1])
        elif e[0] == "func":
            for a in e[2]:
                walk(a)
        elif e[0] == "in":
            walk(e[1])

    if isinstance(rule, ConceptRule):
        for line in rule.lines:
            walk(line)
    else:
        for patterns, cond in rule.lines:
            for _src, pred, _pa, _dst, _t in patterns:
                reads.add(("p", pred))
            if cond is not None:
                walk(cond)
    return reads


def _rule_produces(rule) -> set:
    if isinstance(rule, ConceptRule):
        return {("c", rule.concept_id), "ANY_BELONGTO"}
    return {("p", rule.pred)}


def infer_thinker(
    triples: DataFrame,
    rules: list,
    isa: DataFrame | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """Forward-saturate the concept/relation rules to a fixpoint (rules
    chain — a derived belongTo can satisfy another rule's concept
    condition). Round 1 derives every rule; later rounds re-derive only
    rules whose static read-set (concept refs, hits(), body-pattern
    predicates) intersects what some rule PRODUCES — a rule reading only
    base properties/tags runs exactly once (with no such rule, round 2
    derives nothing and ends the fixpoint). This is rule-level
    incrementality (the conditions are not pure Horn joins, so fact-
    level semi-naive as in thinker.infer does not apply); per round the
    new facts are isolated with one distinct + anti-join. Raises
    ``RuntimeError`` if round ``max_iter`` still derives new facts.
    Priority rules derive nothing here."""
    derive = [r for r in rules if not isinstance(r, PriorityRule)]
    produced_all: set = set()
    for r in derive:
        produced_all |= _rule_produces(r)
    affected = [r for r in derive if _rule_reads(r) & produced_all]

    def derive_round(full: DataFrame, _delta: DataFrame, i: int) -> DataFrame:
        parts = [
            _eval_concept_rule(r, full, isa)
            if isinstance(r, ConceptRule)
            else _eval_relation_rule(r, full, isa)
            for r in (affected if i else derive)
        ]
        return reduce(DataFrame.unionByName, parts, full.limit(0))

    return saturate(
        triples.select("s", "p", "o"), derive_round, max_iter=max_iter, job_id="infer_thinker"
    )


def apply_priority(facts: DataFrame, rule: PriorityRule) -> DataFrame:
    """(s, concept, priority): each subject's HIGHEST-priority concept
    of the rule's type (the DefinePriority 危险水平分层 doc example —
    risk stratification keeps the top level that holds). Ties on weight
    break on concept id for determinism."""
    weights = [
        (f"{rule.concept_type}/{inst}", w) for inst, w in rule.weights.items()
    ]
    spark = facts.sparkSession
    wdf = spark.createDataFrame(weights, "o string, priority int")
    tagged = facts.where(F.col("p") == "belongTo").join(F.broadcast(wdf), "o")
    from pyspark.sql import Window

    win = Window.partitionBy("s").orderBy(
        F.col("priority").desc(), F.col("o").asc()
    )
    return (
        tagged.withColumn("__rn", F.row_number().over(win))
        .where(F.col("__rn") == 1)
        .select(
            "s",
            F.col("o").alias("concept"),
            "priority",
        )
    )


def run_thinker(
    text: str,
    triples: DataFrame,
    isa: DataFrame | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """Parse + saturate in one call; returns the fact closure."""
    return infer_thinker(triples, parse_thinker(text), isa, max_iter)
