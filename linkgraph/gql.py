"""GQL-style pattern-query front-end: MATCH/WHERE/RETURN strings
compiled onto the DataFrame operator layer.

Reference parity (the reference's primary entry point is a DSL string):
  grammar    /root/reference/reasoner/kgdsl-parser/src/main/antlr4/com/antgroup/openspg/reasoner/KGDSL.g4
             (GQL MATCH subset; golden shapes mirror OpenSPGDslParserTest.scala:60-106)
  lifecycle  OpenSPGDslParser.scala:86-116 (parse -> blocks -> plan)
  planning   PatternMatchPlanner.scala:231-343 — root selection by max
             pattern degree, then PatternScan + ExpandInto traversal;
             BoundedVarLenExpand unrolled per hop.

Supported surface:

    MATCH (a:Label)-[e:TYPE]->(b), (b)<-[f:TYPE2]-(c),
          (a)-[g:TYPE*1..3]->(d),
          (x:Ns.Dotted|Other)-[:t]->(y:`Back.Quoted`/`concept instance`)
    WHERE a.prop = 5 AND e.ts < f.ts AND NOT b.flag <> 'x'
    RETURN [DISTINCT] a.prop AS x, count(*) AS n, e.ts AS t
    ORDER BY n DESC, x ASC
    LIMIT 10

Labels/rel types may be dotted/namespaced (label_name, KGDSL.g4:211),
backquoted (EscapedSymbolicName, KGDSL.g4:842-845 — required for
non-identifier characters), alternated with ``|`` (label_expression),
and concept-qualified with ``/`instance``` (lowered to an equality on
the vertex's ``concept`` property, the belongTo instance-of shape) —
this is the full node surface of the reference's shipped example
``.dsl`` files (riskmining/supplychain/tests).

Aggregates in RETURN trigger implicit grouping by the non-aggregate
items (GQL semantics). Everything lowers to plain DataFrame joins /
groupBy — single-alias WHERE conjuncts reach the scans via Catalyst's
own predicate pushdown (filters are applied once on the joined binding
table; `.explain` shows them pushed below the joins), so the planner
here only chooses the traversal order, exactly like the reference.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkgraph.ops import var_len_expand_paths

# ---------------------------------------------------------------------------
# graph container
# ---------------------------------------------------------------------------


@dataclass
class PropertyGraph:
    """Property-graph view over DataFrames.

    vertices: label -> DF with a ``vid`` column (+ property columns)
    edges:    rel type -> DF with ``src``/``dst`` columns (+ properties)
    A node/edge pattern without a label/type resolves to the sole table
    if there is exactly one, else raises.
    """

    vertices: dict[str, DataFrame]
    edges: dict[str, DataFrame]

    def vertex_table(self, label: str | tuple | None) -> DataFrame:
        if isinstance(label, tuple):  # (a:A|B) — label_expression alternation
            return _union_label_tables(self.vertices, label, "label")
        if label is not None:
            return self.vertices[label]
        if len(self.vertices) != 1:
            raise ValueError("unlabeled node but multiple vertex tables")
        return next(iter(self.vertices.values()))

    def edge_table(self, rel: str | tuple | None, alias: str | None = None) -> DataFrame:
        if isinstance(rel, tuple):  # [e:A|B] — relTypes set (KGDSL parity)
            return _union_label_tables(self.edges, rel, "rel_type")
        if rel is not None:
            return self.edges[rel]
        if alias is not None and alias in self.edges:
            # `[useCert]` — an untyped edge whose ALIAS names a known
            # edge type refers to that property-edge (the shipped
            # riskmining.schema release rule's shorthand for the App
            # useCert object property)
            return self.edges[alias]
        if len(self.edges) != 1:
            raise ValueError("untyped edge but multiple edge tables")
        return next(iter(self.edges.values()))


def _union_label_tables(
    tables: dict[str, DataFrame], names: tuple, tag_col: str
) -> DataFrame:
    """Union the common columns of several label/rel tables, tagging each
    row with its source label (label_expression ``A|B`` — KGDSL.g4:209-211;
    same lowering for vertex alternation as the existing relTypes set)."""
    dfs = [tables[n] for n in names]
    common = [c for c in dfs[0].columns if all(c in d.columns for d in dfs)]
    if tag_col in common:
        raise ValueError(
            f"label alternation over {list(names)} would add a {tag_col!r} "
            f"tag column, but the tables already share a {tag_col!r} "
            "column — rename it or query the labels separately"
        )
    parts = [
        d.select(*common, F.lit(n).alias(tag_col)) for n, d in zip(names, dfs)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class NodePat:
    alias: str
    label: str | tuple | None = None  # tuple = label alternation (a:A|B)


@dataclass(frozen=True)
class EdgePat:
    """Direction-normalized at parse time: (a)<-[e]-(b) parses as
    EdgePat(src='b', dst='a') — traversal always follows src->dst."""

    src: str
    dst: str
    alias: str | None = None
    rel: str | tuple | None = None  # tuple = relTypes set ([e:A|B])
    lower: int | None = None  # var-len bounds; None = single edge
    upper: int | None = None
    undirected: bool = False  # (a)-[e]-(b): Direction.BOTH
    limit: int | None = None  # per-source fanout cap (PatternConnection.limit)
    # inline equality constraints on edge properties (the arrow-DSL
    # `a -> b [type, key=value]` form, label_property_list KGDSL.g4:158):
    # filtered onto the edge table BEFORE the join/expansion, so a
    # var-len walk applies them per hop and Catalyst pushes them into
    # the scan
    props: tuple = ()
    # derived-edge function ([e:udf(args)] — linked_edge, KGDSL.g4:219):
    # (udtf_name, (arg_expr, ...)); rel is None when set
    linked: tuple | None = None

    @property
    def is_varlen(self) -> bool:
        return self.lower is not None


@dataclass
class Query:
    nodes: dict[str, NodePat] = field(default_factory=dict)
    edges: list[EdgePat] = field(default_factory=list)
    where: tuple | None = None
    returns: list[tuple] = field(default_factory=list)  # (expr, out_name)
    distinct: bool = False
    order_by: list[tuple] = field(default_factory=list)  # (name_or_expr, asc)
    limit: int | None = None
    optionals: list["Query"] = field(default_factory=list)  # OPTIONAL MATCH clauses


# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""\s*(?:
      (?P<num>\d+(?:\.\d+)?)
    | (?P<str>'[^']*')
    | (?P<bq>(?:`[^`]*`)+)
    | (?P<param>\$[^\W\d]\w*)
    | (?P<name>[^\W\d]\w*)
    | (?P<op><-|->|<>|<=|>=|\.\.|[()\[\]{},:\-.*<>=+/%|?])
    )""",
    re.X,
)

_KEYWORDS = {
    "match", "where", "return", "as", "order", "by", "limit",
    "distinct", "and", "or", "not", "asc", "desc", "group", "optional",
    "in", "like", "rlike",
}


def _tokenize(text: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m or m.end() == pos:
            if text[pos:].strip():
                raise SyntaxError(f"cannot tokenize at: {text[pos:pos + 20]!r}")
            break
        pos = m.end()
        if m.lastgroup == "num":
            out.append(("num", m.group("num")))
        elif m.lastgroup == "param":
            out.append(("param", m.group("param")[1:]))
        elif m.lastgroup == "str":
            out.append(("str", m.group("str")[1:-1]))
        elif m.lastgroup == "bq":
            # backquoted symbolic name (KGDSL.g4:842-845
            # ``( '`' EscapedSymbolicName_0* '`' )+``) — as in openCypher,
            # a doubled backquote escapes a literal one: `Foo``Bar` is the
            # single name Foo`Bar. Never a keyword; may hold dots/unicode.
            out.append(("name", "`".join(re.findall(r"`([^`]*)`", m.group("bq")))))
        elif m.lastgroup == "name":
            name = m.group("name")
            if name.lower() in _KEYWORDS:
                out.append(("kw", name.lower()))
            else:
                out.append(("name", name))
        else:
            out.append(("op", m.group("op")))
    out.append(("eof", ""))
    return out


# ---------------------------------------------------------------------------
# parser (recursive descent)
# ---------------------------------------------------------------------------


class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0
        # instance-of conjuncts from (u:Label/`concept`) qualifiers,
        # ANDed into WHERE after parsing (same lowering as kgdsl.py's
        # GraphStructure node concept qualifiers)
        self.concept_filters: list = []

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind, val=None):
        t = self.next()
        if t[0] != kind or (val is not None and t[1] != val):
            raise SyntaxError(f"expected {val or kind}, got {t}")
        return t

    def accept(self, kind, val=None) -> bool:
        t = self.peek()
        if t[0] == kind and (val is None or t[1] == val):
            self.i += 1
            return True
        return False

    # ---- query --------------------------------------------------------
    def parse(self) -> Query:
        q = Query()
        self.expect("kw", "match")
        self._pattern_chain(q)
        while self.accept("op", ","):
            self._pattern_chain(q)
        if self.accept("kw", "where"):
            q.where = self._expr()
        while self.accept("kw", "optional"):
            self.expect("kw", "match")
            sub = Query()
            # concept qualifiers inside the OPTIONAL pattern belong to
            # the optional clause's WHERE, not the main one's
            outer_filters = self.concept_filters
            self.concept_filters = []
            self._pattern_chain(sub)
            while self.accept("op", ","):
                self._pattern_chain(sub)
            if self.accept("kw", "where"):
                sub.where = self._expr()
            for c in self.concept_filters:
                sub.where = (
                    c if sub.where is None else ("bin", "and", sub.where, c)
                )
            self.concept_filters = outer_filters
            q.optionals.append(sub)
        self.expect("kw", "return")
        q.distinct = self.accept("kw", "distinct")
        q.returns.append(self._return_item())
        while self.accept("op", ","):
            q.returns.append(self._return_item())
        if self.accept("kw", "order"):
            self.expect("kw", "by")
            q.order_by.append(self._order_item())
            while self.accept("op", ","):
                q.order_by.append(self._order_item())
        if self.accept("kw", "limit"):
            q.limit = int(self.expect("num")[1])
        self.expect("eof")
        for c in self.concept_filters:
            q.where = c if q.where is None else ("bin", "and", q.where, c)
        return q

    def _label_name(self) -> str:
        """Possibly dotted/namespaced label (``SupplyChain.Company`` —
        label_name, KGDSL.g4:211); backquoted segments tokenize as one
        name and may already contain dots."""
        parts = [self.expect("name")[1]]
        while self.accept("op", "."):
            parts.append(self.expect("name")[1])
        return ".".join(parts)

    # ---- patterns ------------------------------------------------------
    def _pattern_chain(self, q: Query):
        left = self._node(q)
        while self.peek() in (("op", "-"), ("op", "<-")):
            back = self.next()[1] == "<-"
            alias = rel = linked = None
            lower = upper = elimit = None
            if self.accept("op", "["):
                if (
                    self.peek()[0] == "name"
                    and self.toks[self.i + 1] != ("op", "(")
                    # `[per_node_limit 3]` with no alias/type: the
                    # keyword is not an edge alias
                    and not (
                        self.peek()[1].lower() == "per_node_limit"
                        and self.toks[self.i + 1][0] == "num"
                    )
                ):
                    alias = self.next()[1]
                if self.accept("op", ":"):
                    if (
                        self.peek()[0] == "name"
                        and self.toks[self.i + 1] == ("op", "(")
                    ):
                        # linked edge [e:udf(args)] (linked_edge =
                        # function_expr, KGDSL.g4:219) — derived edges
                        # computed by a registered UDTF
                        fname = self.next()[1]
                        self.next()  # (
                        fargs = []
                        if self.peek() != ("op", ")"):
                            fargs.append(self._expr())
                            while self.accept("op", ","):
                                fargs.append(self._expr())
                        self.expect("op", ")")
                        linked = (fname, tuple(fargs))
                    else:
                        rels = [self._label_name()]
                        while self.accept("op", "|"):
                            rels.append(self._label_name())
                        rel = rels[0] if len(rels) == 1 else tuple(rels)
                if self.accept("op", "*"):
                    lower = int(self.expect("num")[1])
                    self.expect("op", "..")
                    upper = int(self.expect("num")[1])
                # per-source fanout cap: LIMIT n, or the grammar's
                # PER_NODE_LIMIT n spelling (KGDSL.g4:197-198)
                if self.accept("kw", "limit") or (
                    self.peek()[0] == "name"
                    and self.peek()[1].lower() == "per_node_limit"
                    and self.next()
                ):
                    elimit = int(self.expect("num")[1])
                self.expect("op", "]")
            undirected = False
            if back:
                self.expect("op", "-")
            elif self.accept("op", "-"):  # (a)-[e]-(b): no arrow = BOTH
                undirected = True
            else:
                self.expect("op", "->")
            # graph_pattern_quantifier (KGDSL.g4:199-203): -[e:T]->{1,3}
            # is the {m,n} spelling of *m..n; `{,n}` starts at 1
            if self.accept("op", "{"):
                if lower is not None:
                    raise SyntaxError("both *l..u and {m,n} on one edge")
                lower = 1
                if self.peek()[0] == "num":
                    lower = int(self.next()[1])
                self.expect("op", ",")
                if self.peek()[0] != "num":
                    raise SyntaxError(
                        "unbounded quantifier {m,} is not supported — "
                        "give an upper bound"
                    )
                upper = int(self.next()[1])
                self.expect("op", "}")
                if lower < 1:
                    raise SyntaxError(
                        "zero-hop quantifiers ({0,n}) are not supported — "
                        "use OPTIONAL MATCH for a maybe-absent edge"
                    )
            elif self.accept("op", "?"):
                raise SyntaxError(
                    "the ? quantifier (zero-or-one edge) is not supported "
                    "— use OPTIONAL MATCH"
                )
            right = self._node(q)
            if alias is not None:
                if alias in q.nodes:
                    raise SyntaxError(
                        f"edge alias {alias!r} collides with a node alias"
                    )
                if any(ep.alias == alias for ep in q.edges):
                    raise SyntaxError(f"duplicate edge alias {alias!r}")
            src, dst = (right, left) if back else (left, right)
            if linked is not None and (lower is not None or undirected):
                raise SyntaxError(
                    "a linked edge ([e:udf(...)]) is single-hop and "
                    "directed — no quantifier or undirected form"
                )
            q.edges.append(
                EdgePat(
                    src, dst, alias, rel, lower, upper, undirected, elimit,
                    linked=linked,
                )
            )
            left = right

    def _node(self, q: Query) -> str:
        self.expect("op", "(")
        alias = self.expect("name")[1]
        label = None
        if self.accept("op", ":"):
            labels = [self._label_name()]
            while self.accept("op", "|"):  # label alternation (a:A|B)
                labels.append(self._label_name())
            label = labels[0] if len(labels) == 1 else tuple(labels)
            if self.accept("op", "/"):
                # concept-qualified label (u:`Type`/`instance`) — the
                # instance-of constraint the reference resolves via
                # belongTo; lowers to an equality on the vertex's
                # ``concept`` property, exactly like kgdsl.py nodes
                instance = self.expect("name")[1]
                self.concept_filters.append(
                    ("bin", "=", ("ref", alias, "concept"), ("lit", instance))
                )
        if self.accept("kw", "where"):
            # inline node predicate (element_pattern_where_clause,
            # KGDSL.g4:221) — same placement as a WHERE conjunct
            self.concept_filters.append(self._expr())
        self.expect("op", ")")
        if any(ep.alias == alias for ep in q.edges):
            raise SyntaxError(f"node alias {alias!r} collides with an edge alias")
        prev = q.nodes.get(alias)
        if prev is not None and label is not None and prev.label not in (None, label):
            raise SyntaxError(f"alias {alias} bound to two labels")
        if prev is None or (prev.label is None and label is not None):
            q.nodes[alias] = NodePat(alias, label)
        return alias

    # ---- expressions ----------------------------------------------------
    def _return_item(self):
        e = self._expr()
        name = None
        if self.accept("kw", "as"):
            name = self.expect("name")[1]
        elif e[0] == "ref":
            name = f"{e[1]}_{e[2]}" if e[2] else e[1]
        else:
            raise SyntaxError("non-trivial RETURN item needs AS <name>")
        return (e, name)

    def _order_item(self):
        e = self._expr()
        asc = True
        if self.accept("kw", "desc"):
            asc = False
        else:
            self.accept("kw", "asc")
        return (e, asc)

    def _expr(self):
        return self._or()

    def _or(self):
        left = self._and()
        while self.accept("kw", "or"):
            left = ("bin", "or", left, self._and())
        return left

    def _and(self):
        left = self._not()
        while self.accept("kw", "and"):
            left = ("bin", "and", left, self._not())
        return left

    def _not(self):
        if self.accept("kw", "not"):
            return ("not", self._not())
        return self._cmp()

    def _cmp(self):
        left = self._add()
        t = self.peek()
        if t[0] == "op" and t[1] in ("=", "<>", "<", "<=", ">", ">="):
            self.next()
            return ("bin", t[1], left, self._add())
        # WHERE operator surface parity (Expr.scala:341-359): in / like / rlike
        if t == ("kw", "in"):
            self.next()
            opener = self.next()
            if opener not in (("op", "("), ("op", "[")):
                # $param bound to a Python list at compile time
                if opener[0] == "param":
                    return ("in", left, ("param", opener[1]))
                return ("in", left, self._in_operand(opener))
            closer = ")" if opener == ("op", "(") else "]"
            items = [self._add()]
            while self.accept("op", ","):
                items.append(self._add())
            self.expect("op", closer)
            return ("in", left, items)
        if t in (("kw", "like"), ("kw", "rlike")):
            self.next()
            return ("bin", t[1], left, self._add())
        return left

    def _in_operand(self, opener):
        """Non-list, non-$param IN right side — dialects may override
        (the thinker dialect's ``"lit" in prop`` membership form)."""
        raise SyntaxError(f"IN needs a literal list or $param, got {opener}")

    def _add(self):
        left = self._mul()
        while True:
            t = self.peek()
            if t[0] == "op" and t[1] in ("+", "-"):
                self.next()
                left = ("bin", t[1], left, self._mul())
            else:
                return left

    def _mul(self):
        left = self._primary()
        while True:
            t = self.peek()
            if t[0] == "op" and t[1] in ("*", "/", "%"):
                self.next()
                left = ("bin", t[1], left, self._primary())
            else:
                return left

    def _primary(self):
        t = self.next()
        if t == ("op", "-"):  # unary minus
            return ("bin", "-", ("lit", 0), self._primary())
        if t[0] == "num":
            return ("lit", float(t[1]) if "." in t[1] else int(t[1]))
        if t[0] == "str":
            return ("lit", t[1])
        if t[0] == "param":  # $name — bound at compile time (Expr.scala:391)
            return ("param", t[1])
        if t == ("op", "("):
            e = self._expr()
            self.expect("op", ")")
            return e
        if t == ("op", "*"):
            return ("star",)
        if t[0] == "name":
            if self.peek() == ("op", "("):  # function call
                self.next()
                args = []
                if self.peek() != ("op", ")"):
                    args.append(self._expr())
                    while self.accept("op", ","):
                        args.append(self._expr())
                self.expect("op", ")")
                return ("func", t[1].lower(), args)
            if self.accept("op", "."):
                prop = self.expect("name")[1]
                return ("ref", t[1], prop)
            return ("ref", t[1], None)  # bare alias -> its vid
        raise SyntaxError(f"unexpected token {t}")


def parse(text: str) -> Query:
    """Parse a GQL MATCH string into the Query AST (golden-test surface,
    mirroring OpenSPGDslParserTest)."""
    return _Parser(text).parse()


# ---------------------------------------------------------------------------
# compiler / planner
# ---------------------------------------------------------------------------

def _is_agg_fn(name: str) -> bool:
    """Aggregate-ness resolves against the live registry, so aggregates
    added to functions.AGGREGATES compose with the front-end."""
    from linkgraph.functions import AGGREGATES

    return name in AGGREGATES


def _contains_agg(e) -> bool:
    if e[0] == "func" and _is_agg_fn(e[1]):
        return True
    if e[0] == "bin":
        return _contains_agg(e[2]) or _contains_agg(e[3])
    if e[0] == "not":
        return _contains_agg(e[1])
    if e[0] == "func":
        return any(_contains_agg(a) for a in e[2])
    if e[0] == "getfield":
        return _contains_agg(e[1])
    if e[0] == "in" and isinstance(e[2], list):
        return _contains_agg(e[1]) or any(_contains_agg(a) for a in e[2])
    if e[0] == "in":
        return _contains_agg(e[1])
    return False


def bind_params(e, params: dict):
    """Substitute $param refs with literal values (runtime parameter
    binding, Expr.scala:391 ``Parameter``; bound before planning so an
    ``x.id = $p`` conjunct still drives IdEqualPushDown root seeding)."""
    if not isinstance(e, tuple):
        return e
    if e[0] == "param":
        if e[1] not in params:
            raise ValueError(f"unbound query parameter ${e[1]}")
        return ("lit", params[e[1]])
    if e[0] == "in" and isinstance(e[2], tuple) and e[2][0] == "param":
        if e[2][1] not in params:
            raise ValueError(f"unbound query parameter ${e[2][1]}")
        vals = params[e[2][1]]
        if not isinstance(vals, (list, tuple, set)):
            raise TypeError(f"IN ${e[2][1]} needs a list, got {type(vals).__name__}")
        return ("in", bind_params(e[1], params), [("lit", v) for v in vals])
    if e[0] == "in":
        return ("in", bind_params(e[1], params), [bind_params(a, params) for a in e[2]])
    if e[0] == "bin":
        return ("bin", e[1], bind_params(e[2], params), bind_params(e[3], params))
    if e[0] == "not":
        return ("not", bind_params(e[1], params))
    if e[0] == "func":
        return ("func", e[1], [bind_params(a, params) for a in e[2]])
    if e[0] == "getfield":
        return ("getfield", bind_params(e[1], params), e[2])
    if e[0] == "lambda":  # bind inside the body; params of the lambda stay
        return ("lambda", e[1], bind_params(e[2], params))
    return e


def _collect_params(e, out: set[str]) -> set[str]:
    if not isinstance(e, tuple):
        return out
    if e[0] == "param":
        out.add(e[1])
    elif e[0] == "in":
        _collect_params(e[1], out)
        if isinstance(e[2], tuple):
            _collect_params(e[2], out)
        else:
            for a in e[2]:
                _collect_params(a, out)
    elif e[0] == "bin":
        _collect_params(e[2], out)
        _collect_params(e[3], out)
    elif e[0] == "not":
        _collect_params(e[1], out)
    elif e[0] == "func":
        for a in e[2]:
            _collect_params(a, out)
    elif e[0] == "getfield":
        _collect_params(e[1], out)
    elif e[0] == "lambda":
        _collect_params(e[2], out)
    return out


_BIN_OPS = {
    "=": lambda a, b: a == b,
    "<>": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "and": lambda a, b: a & b,
    "or": lambda a, b: a | b,
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": lambda a, b: a / b,
    "%": lambda a, b: a % b,
}


def _compile_expr(e, cols: set[str]) -> Column:
    """AST -> Column over the binding table's {alias}__{prop} columns."""
    kind = e[0]
    if kind == "lit":
        return F.lit(e[1])
    if kind == "ref":
        alias, prop = e[1], e[2]
        col = f"{alias}__{prop}" if prop else f"{alias}__vid"
        if col not in cols:
            raise ValueError(f"unknown reference {alias}.{prop or 'vid'}")
        return F.col(col)
    if kind == "param":
        raise ValueError(
            f"unbound query parameter ${e[1]} — pass params= to compile_query"
        )
    if kind == "in":
        if isinstance(e[2], tuple):
            raise ValueError(
                f"unbound query parameter ${e[2][1]} — pass params= to compile_query"
            )
        vals = []
        for a in e[2]:
            if a[0] != "lit":
                raise ValueError("IN list items must be literals")
            vals.append(a[1])
        return _compile_expr(e[1], cols).isin(vals)
    if kind == "bin" and e[1] == "like":
        if e[3][0] != "lit":
            raise ValueError("LIKE pattern must be a literal")
        return _compile_expr(e[2], cols).like(e[3][1])
    if kind == "bin" and e[1] == "rlike":
        if e[3][0] != "lit":
            raise ValueError("RLIKE pattern must be a literal")
        return _compile_expr(e[2], cols).rlike(e[3][1])
    if kind == "bin" and e[1] in ("=", "<>") and ("lit", None) in (e[2], e[3]):
        # KGDSL/QLExpress `x == null` means IS NULL, not SQL 3-valued =
        other = e[3] if e[2] == ("lit", None) else e[2]
        c = _compile_expr(other, cols)
        return c.isNull() if e[1] == "=" else c.isNotNull()
    if kind == "bin":
        return _BIN_OPS[e[1]](_compile_expr(e[2], cols), _compile_expr(e[3], cols))
    if kind == "not":
        return ~_compile_expr(e[1], cols)
    if kind == "getfield":  # struct-field access (GetField, Expr.scala:317)
        return _compile_expr(e[1], cols)[e[2]]
    if kind == "func":
        name, args = e[1], e[2]
        if name == "count" and len(args) == 1 and args[0] == ("star",):
            return F.count(F.lit(1))
        from linkgraph.functions import AGGREGATES, SCALARS

        fn = AGGREGATES.get(name) or SCALARS.get(name)
        if fn is None:
            raise ValueError(f"unknown function {name}")
        # literal args pass through as raw Python values: registry
        # callables take option-like params (substring positions,
        # accumulate's '+'/'*' op) as plain values, and Spark auto-lifts
        # literals used as Columns. Lambda args (("lambda", params, body)
        # — the KGDSL (pre, cur) => expr form) compile to Python
        # callables for higher-order functions (repeat_constraint/
        # repeat_reduce -> zip_with/aggregate).
        compiled = [
            a[1]
            if a[0] == "lit"
            else _make_lambda(a, cols)
            if a[0] == "lambda"
            else _compile_expr(a, cols)
            for a in args
        ]
        return fn(*compiled)
    raise ValueError(f"cannot compile {e}")


def _make_lambda(e, outer_cols: set[str]):
    """("lambda", [p1, p2], body) -> a Python callable over Columns.
    Inside the body, ``p1.field`` resolves to a struct field of the
    callable's first argument (the zip_with/aggregate element); other
    refs resolve against the outer binding table as usual."""
    _, params, body = e

    def fn(args: tuple) -> Column:
        if len(args) != len(params):
            raise ValueError(
                f"lambda arity mismatch: declared {len(params)} params, "
                f"higher-order function supplies {len(args)}"
            )
        bind = dict(zip(params, args))

        def compile_body(b):
            if b[0] == "ref" and b[1] in bind:
                return bind[b[1]][b[2]] if b[2] else bind[b[1]]
            if b[0] == "bin":
                if b[1] in ("=", "<>") and ("lit", None) in (b[2], b[3]):
                    other = b[3] if b[2] == ("lit", None) else b[2]
                    c = compile_body(other)
                    return c.isNull() if b[1] == "=" else c.isNotNull()
                if b[1] == "like":
                    return compile_body(b[2]).like(b[3][1])
                if b[1] == "rlike":
                    return compile_body(b[2]).rlike(b[3][1])
                return _BIN_OPS[b[1]](compile_body(b[2]), compile_body(b[3]))
            if b[0] == "not":
                return ~compile_body(b[1])
            if b[0] == "in" and isinstance(b[2], list):
                return compile_body(b[1]).isin([a[1] for a in b[2]])
            if b[0] == "func":
                from linkgraph.functions import SCALARS

                f2 = SCALARS.get(b[1])
                if f2 is None:
                    raise ValueError(f"unknown function {b[1]} in lambda body")
                return f2(*[
                    a[1] if a[0] == "lit" else compile_body(a) for a in b[2]
                ])
            return _compile_expr(b, outer_cols)  # lit / outer ref / nested

        return compile_body(body)

    # Spark's higher-order builtins (zip_with/aggregate/...) inspect the
    # callable's signature and reject *args — expose exact positional arity
    n = len(params)
    if n == 1:
        return lambda a: fn((a,))
    if n == 2:
        return lambda a, b: fn((a, b))
    if n == 3:
        return lambda a, b, c: fn((a, b, c))
    raise ValueError(f"lambdas support 1-3 parameters, got {n}")


def _conjuncts(e) -> list:
    if e[0] == "bin" and e[1] == "and":
        return _conjuncts(e[2]) + _conjuncts(e[3])
    return [e]


def _expr_refs(e, out: set[str]) -> set[str]:
    if e[0] == "ref":
        out.add(f"{e[1]}__{e[2]}" if e[2] else f"{e[1]}__vid")
    elif e[0] == "bin":
        _expr_refs(e[2], out)
        _expr_refs(e[3], out)
    elif e[0] == "not":
        _expr_refs(e[1], out)
    elif e[0] == "func":
        for a in e[2]:
            _expr_refs(a, out)
    elif e[0] == "getfield":
        _expr_refs(e[1], out)
    elif e[0] == "in":
        _expr_refs(e[1], out)
        if isinstance(e[2], list):
            for a in e[2]:
                _expr_refs(a, out)
    elif e[0] == "lambda":
        # body refs matter for conjunct placement, EXCEPT the lambda's
        # own params (they bind to array elements, not table columns)
        inner = _expr_refs(e[2], set())
        params = set(e[1])
        out |= {r for r in inner if r.split("__", 1)[0] not in params}
    return out


def _max_degree_root(q: Query) -> str:
    """PatternMatchPlanner.getMaxDegree analog: the alias incident to the
    most pattern connections (ties -> lexicographically smallest for
    determinism); patterns without edges start at the first node."""
    deg: dict[str, int] = {}
    for e in q.edges:
        deg[e.src] = deg.get(e.src, 0) + 1
        deg[e.dst] = deg.get(e.dst, 0) + 1
    if not deg:
        return next(iter(q.nodes))
    return max(sorted(deg), key=lambda a: deg[a])


def _expr_aliases(e, out: set[str]) -> set[str]:
    if e[0] == "ref":
        out.add(e[1])
    elif e[0] == "bin":
        _expr_aliases(e[2], out)
        _expr_aliases(e[3], out)
    elif e[0] == "not":
        _expr_aliases(e[1], out)
    elif e[0] == "func":
        for a in e[2]:
            _expr_aliases(a, out)
    elif e[0] == "getfield":
        _expr_aliases(e[1], out)
    elif e[0] == "in":
        _expr_aliases(e[1], out)
        if isinstance(e[2], list):
            for a in e[2]:
                _expr_aliases(a, out)
    return out


def _choose_root(q: Query) -> str:
    """Traversal-root heuristic, reference precedence with the
    IdEqualPushDown upgrade (optimizer/rules/IdEqualPushDown.scala):
    an alias pinned by a single-alias equality conjunct is the most
    selective seed — start there so every later hop grows from the
    pinned rows; otherwise fall back to max pattern degree."""
    pinned: set[str] = set()
    for c in _conjuncts(q.where) if q.where is not None else []:
        if c[0] == "bin" and c[1] == "=":
            aliases = _expr_aliases(c, set())
            if len(aliases) == 1:
                pinned.add(next(iter(aliases)))
    pinned &= set(q.nodes)
    if pinned:
        deg: dict[str, int] = {}
        for e in q.edges:
            deg[e.src] = deg.get(e.src, 0) + 1
            deg[e.dst] = deg.get(e.dst, 0) + 1
        return max(sorted(pinned), key=lambda a: deg.get(a, 0))
    return _max_degree_root(q)


def _bind_vertex(df: DataFrame | None, alias: str, q: Query, graph: PropertyGraph,
                 join_col: str | None = None) -> DataFrame:
    """Join alias's vertex table into the binding table (PatternScan when
    df is None, the vertex half of ExpandInto otherwise)."""
    label = q.nodes[alias].label
    vt = graph.vertex_table(label)
    renamed = vt.select(
        *[F.col(c).alias(f"{alias}__{c}") for c in vt.columns]
    )
    if df is None:
        return renamed
    assert join_col is not None
    out = df.join(renamed, F.col(join_col) == F.col(f"{alias}__vid")).drop(join_col)
    return out


def _traverse(q: Query, graph: PropertyGraph, root: str | None = None) -> DataFrame:
    """Traversal: start at ``root`` (explicit, the START_ALIAS analog) or
    the max-degree alias; repeatedly take a pattern edge with a bound
    endpoint — both-bound edges first (ExpandInto prunes before growing)
    — and join it in. Disconnected components cross-join (their sizes
    multiply; same as any product pattern).

    WHERE decomposes into AND-conjuncts applied as soon as their
    referenced columns are bound (the reference planner's rule
    placement): a var-len expansion then grows from an already-filtered
    frontier instead of enumerating paths from every vertex — the
    difference between O(seeds·fanout^k) and O(|V|·fanout^k).
    """
    if root is not None and root not in q.nodes:
        raise ValueError(f"root alias {root!r} is not in the pattern")
    root = root or _choose_root(q)
    remaining = _conjuncts(q.where) if q.where is not None else []

    # Pairwise path constraints (repeat_constraint(e.path, (pre, cur) =>
    # ...) — the KGDSL edges().constraint form) push INTO the var-len
    # expansion loop: per-hop pruning is O(surviving paths) instead of
    # enumerate-all-then-filter O(fanout^hops) — the reference's
    # constraint-during-expansion (PatternMatcher rules) and the only
    # shape that survives a hub-heavy web graph. Only lambdas with no
    # outer column references are pushable (outer columns bind after).
    varlen_aliases = {e.alias for e in q.edges if e.is_varlen and e.alias}
    varlen_constraints: dict[str, object] = {}
    for c in list(remaining):
        if (
            c[0] == "func"
            and c[1] == "repeat_constraint"
            and len(c[2]) == 2
            and isinstance(c[2][0], tuple)
            and c[2][0][0] == "ref"
            and c[2][0][2] == "path"
            and c[2][0][1] in varlen_aliases
            and isinstance(c[2][1], tuple)
            and c[2][1][0] == "lambda"
            and len(c[2][1][1]) == 2
            and not _expr_refs(c[2][1], set())
        ):
            varlen_constraints[c[2][0][1]] = _make_lambda(c[2][1], set())
            remaining.remove(c)

    def _apply_ready(df: DataFrame) -> DataFrame:
        nonlocal remaining
        cols = set(df.columns)
        ready = [c for c in remaining if _expr_refs(c, set()) <= cols]
        if ready:
            remaining = [c for c in remaining if c not in ready]
            for c in ready:
                df = df.where(_compile_expr(c, cols))
        return df

    df = _apply_ready(_bind_vertex(None, root, q, graph))
    bound = {root}
    pending = list(q.edges)
    ecount = 0
    while pending:
        # prefer edges with BOTH endpoints bound (pure intersection —
        # ExpandInto), else any edge touching the bound set
        pick = next((e for e in pending if e.src in bound and e.dst in bound), None)
        if pick is None:
            touching = [e for e in pending if e.src in bound or e.dst in bound]
            # a linked edge expands forward only — defer it until its
            # source binds if any other edge can grow the pattern first
            pick = next(
                (e for e in touching if e.linked is None or e.src in bound),
                touching[0] if touching else None,
            )
        if pick is None:  # disconnected component: cross join its start
            nxt = next(a for a in q.nodes if a not in bound)
            # correct product-pattern semantics, but the overwhelmingly
            # common cause is a typo'd alias — surface it loudly
            import warnings

            warnings.warn(
                f"pattern component starting at {nxt!r} shares no alias with "
                f"{sorted(bound)} — planning a cartesian product (row counts "
                "multiply); check for a misspelled alias",
                stacklevel=3,
            )
            df = _apply_ready(df.crossJoin(_bind_vertex(None, nxt, q, graph)))
            bound.add(nxt)
            continue
        pending.remove(pick)
        ecount += 1
        df = _apply_ready(
            _join_edge(df, pick, q, graph, bound, ecount, varlen_constraints)
        )

    # node-only leftovers: aliases no pattern edge touches (the edge loop
    # above never runs for them) — same product-pattern semantics
    for a in q.nodes:
        if a not in bound:
            import warnings

            warnings.warn(
                f"alias {a!r} is connected to no pattern edge — planning a "
                "cartesian product (row counts multiply); check for a "
                "misspelled alias",
                stacklevel=3,
            )
            df = _apply_ready(df.crossJoin(_bind_vertex(None, a, q, graph)))
            bound.add(a)

    for c in remaining:  # conjuncts referencing unknown columns -> error here
        df = df.where(_compile_expr(c, set(df.columns)))
    return df


def compile_query(
    q: Query | str,
    graph: PropertyGraph,
    root: str | None = None,
    params: dict | None = None,
) -> DataFrame:
    """Lower a parsed Query (or GQL string) to a DataFrame: traverse the
    main MATCH (see _traverse), left-join each OPTIONAL MATCH clause on
    its shared aliases (Optional -> left outer,
    /root/reference/reasoner/lube-logical/src/main/scala/com/antgroup/openspg/reasoner/lube/logical/operators/Optional.scala:20),
    then apply RETURN — aggregates group by the non-aggregate items.

    ``params`` binds ``$name`` references (the reference's
    parseMultipleStatement(query, params) runtime binding) BEFORE
    planning, so ``x.id = $p`` seeds the traversal root exactly like a
    literal equality (IdEqualPushDown).
    """
    if isinstance(q, str):
        q = parse(q)
    if not q.nodes:
        raise ValueError("empty pattern")
    used = _collect_params(q.where, set()) if q.where is not None else set()
    for ex, _ in q.returns:
        _collect_params(ex, used)
    for ex, _ in q.order_by:
        _collect_params(ex, used)
    for opt in q.optionals:
        if opt.where is not None:
            _collect_params(opt.where, used)
    if used or params:
        p = params or {}
        missing = used - set(p)
        if missing:
            raise ValueError(
                f"unbound query parameter(s): {sorted('$' + m for m in missing)}"
            )
        # bind on a copy — the caller may reuse the parsed Query with
        # different params (the point of parameterized queries)
        import copy

        q = copy.copy(q)
        q.where = bind_params(q.where, p) if q.where is not None else None
        q.returns = [(bind_params(ex, p), name) for ex, name in q.returns]
        q.order_by = [(bind_params(ex, p), asc) for ex, asc in q.order_by]
        opts = []
        for opt in q.optionals:
            o2 = copy.copy(opt)
            o2.where = bind_params(opt.where, p) if opt.where is not None else None
            opts.append(o2)
        q.optionals = opts

    df = _traverse(q, graph, root)

    for opt in q.optionals:
        shared = sorted(a for a in opt.nodes if a in q.nodes)
        if not shared:
            raise ValueError("OPTIONAL MATCH must share an alias with MATCH")
        # inherit labels for shared aliases declared only in the main part
        for a in shared:
            if opt.nodes[a].label is None and q.nodes[a].label is not None:
                opt.nodes[a] = q.nodes[a]
        sub = _traverse(opt, graph, root=shared[0])
        keys = [f"{a}__vid" for a in shared]
        keep = keys + [c for c in sub.columns if c not in df.columns]
        df = df.join(sub.select(*keep), keys, "left")

    cols = set(df.columns)
    items = [(ex, name, _contains_agg(ex)) for ex, name in q.returns]
    if any(agg for _, _, agg in items):
        keys = [
            _compile_expr(ex, cols).alias(name) for ex, name, agg in items if not agg
        ]
        aggs = [
            _compile_expr(ex, cols).alias(name) for ex, name, agg in items if agg
        ]
        out = df.groupBy(*keys).agg(*aggs)
        # restore declared column order
        out = out.select(*[name for _, name, _ in items])
    else:
        out = df.select(
            *[_compile_expr(ex, cols).alias(name) for ex, name, _ in items]
        )
        if q.distinct:
            out = out.dropDuplicates()

    if q.order_by:
        out_cols = set(out.columns)
        keys = []
        for ex, asc in q.order_by:
            if ex[0] == "ref" and ex[2] is None and ex[1] in out_cols:
                c = F.col(ex[1])  # output-column reference
            else:
                c = _compile_expr(ex, out_cols)
            keys.append(c.asc() if asc else c.desc())
        out = out.orderBy(*keys)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out


def edge_frame(e: EdgePat, graph: PropertyGraph) -> DataFrame:
    """The prepared edge table for one pattern edge: inline property
    constraints filtered first (scan-pushable), then the undirected
    swap-union (Direction.BOTH), then the deterministic per-source
    fanout cap — applied on the TRUE edge orientation BEFORE any
    reverse-walk swap, so a dst-rooted var-len traversal sees the same
    capped edge set as the forward form. Shared by the inner-join
    lowering here and kgdsl's optional left joins."""
    edf = graph.edge_table(e.rel, alias=e.alias)
    for k, v in e.props:
        edf = edf.where(F.col(k) == F.lit(v))
    if e.undirected:
        props = [c for c in edf.columns if c not in ("src", "dst")]
        edf = edf.unionByName(
            edf.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), *props
            )
        )
    if e.limit is not None:
        from linkgraph.ops import cap_fanout

        edf = cap_fanout(edf, e.limit)
    return edf


def _join_edge(
    df: DataFrame,
    e: EdgePat,
    q: Query,
    graph: PropertyGraph,
    bound: set[str],
    n: int,
    varlen_constraints: dict | None = None,
) -> DataFrame:
    if e.linked is not None:
        # LinkedExpand: derived edges from a registered UDTF over the
        # SOURCE binding's columns — explode stays JVM-side, one row per
        # produced target id, empty arrays drop (ops.linked_expand is
        # the standalone form of the same shape)
        from linkgraph.ops import linked_expand

        fname, fargs = e.linked
        if e.src not in bound:
            raise ValueError(
                f"linked edge {fname}() needs its source alias "
                f"{e.src!r} bound before it expands"
            )
        cols = set(df.columns)
        args = [
            a[1] if a[0] == "lit" else _compile_expr(a, cols) for a in fargs
        ]
        dstc = f"__d{n}__"
        out = linked_expand(df, fname, *args, out=dstc, limit=e.limit)
        if e.alias:
            out = out.withColumn(f"{e.alias}__value", F.col(dstc))
        if e.dst in bound:
            return out.where(
                F.col(f"{e.dst}__vid") == F.col(dstc)
            ).drop(dstc)
        out = _bind_vertex(out, e.dst, q, graph, dstc)
        bound.add(e.dst)
        return out

    edf = edge_frame(e, graph)
    if e.is_varlen:
        props = [c for c in edf.columns if c not in ("src", "dst")]
        # traverse from whichever endpoint is bound; a dst-only binding
        # (e.g. the root was pinned on the target) walks REVERSED edges
        # and flips the accumulated path back to forward orientation
        reverse = e.src not in bound
        if reverse and e.dst not in bound:
            raise ValueError("var-len edge needs a bound endpoint")
        walk_edges = edf
        if reverse:
            walk_edges = edf.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), *props
            )
        from_alias, to_alias = (e.dst, e.src) if reverse else (e.src, e.dst)
        frontier = df.select(F.col(f"{from_alias}__vid").alias("vid")).distinct()
        constraint = (varlen_constraints or {}).get(e.alias)
        if constraint is not None and reverse:
            # the walk sees swapped edges in reverse order: forward pair
            # (cur_fwd, prev_fwd) = (unswap(new_walk), unswap(prev_walk))
            fwd_fn = constraint

            def _unswap(x):
                return F.struct(
                    x["dst"].alias("src"),
                    x["src"].alias("dst"),
                    *[x[p].alias(p) for p in props],
                )

            constraint = lambda prev, new: fwd_fn(_unswap(new), _unswap(prev))  # noqa: E731
        # the fanout cap was already applied to the true orientation above
        paths = var_len_expand_paths(
            frontier,
            walk_edges,
            e.lower,
            e.upper,
            edge_props=props,
            edge_constraint=constraint,
        )
        path_col = F.col("path")
        if reverse:  # un-swap each edge and restore forward order
            path_col = F.reverse(
                F.transform(
                    path_col,
                    lambda x: F.struct(
                        x["dst"].alias("src"),
                        x["src"].alias("dst"),
                        *[x[p].alias(p) for p in props],
                    ),
                )
            )
        psel = [
            F.col("start").alias("__start__"),
            F.col("vid").alias("__end__"),
        ]
        if e.alias:
            psel += [
                F.col("hops").alias(f"{e.alias}__hops"),
                path_col.alias(f"{e.alias}__path"),
            ]
        p = paths.select(*psel)
        out = df.join(p, F.col(f"{from_alias}__vid") == F.col("__start__")).drop(
            "__start__"
        )
        if to_alias in bound:
            out = out.where(F.col(f"{to_alias}__vid") == F.col("__end__")).drop(
                "__end__"
            )
        else:
            out = _bind_vertex(out, to_alias, q, graph, "__end__")
            bound.add(to_alias)
        return out

    srcc, dstc = f"__s{n}__", f"__d{n}__"
    sel = [F.col("src").alias(srcc), F.col("dst").alias(dstc)]
    if e.alias:
        sel += [
            F.col(c).alias(f"{e.alias}__{c}")
            for c in edf.columns
            if c not in ("src", "dst")
        ]
    e2 = edf.select(*sel)
    cond = None
    if e.src in bound:
        cond = F.col(f"{e.src}__vid") == F.col(srcc)
    if e.dst in bound:
        c2 = F.col(f"{e.dst}__vid") == F.col(dstc)
        cond = c2 if cond is None else (cond & c2)
    out = df.join(e2, cond)
    for alias, col in ((e.src, srcc), (e.dst, dstc)):
        if alias not in bound:
            out = _bind_vertex(out, alias, q, graph, col)
            bound.add(alias)
        else:
            out = out.drop(col)
    return out
