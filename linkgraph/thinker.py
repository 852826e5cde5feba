"""Thinker-lite: rule-triple inference over a (s, p, o) triple table.

Reference parity: the Thinker API answers ``find(s, p, o)`` by
backward-chaining logical rules over the KG
(/root/reference/reasoner/thinker/src/main/java/com/antgroup/openspg/reasoner/thinker/Thinker.java:21-28,
rules parsed from a simplified dialect). Backward chaining is a per-query
local search — the wrong shape for Spark. The distributed equivalent is
FORWARD saturation: materialize the rule closure once with semi-naive
datalog iteration (each round joins only the previous round's NEW facts
against the accumulated set, so work is proportional to the delta, not
the closure), then ``find`` is a filtered scan of the closure — amortized
across queries and checkpointable like any other state table.

Rules are Horn clauses over triples; variables start with ``?``::

    reach = [
        parse_rule("(?x, reach, ?y) <- (?x, link, ?y)"),
        parse_rule("(?x, reach, ?z) <- (?x, link, ?y), (?y, reach, ?z)"),
    ]
    closure = infer(triples, reach)
    find(closure, p="reach", s="a")        # -> DataFrame of matches
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.pregel import saturate


@dataclass(frozen=True)
class Atom:
    s: str
    p: str
    o: str

    def vars(self) -> list[tuple[str, str]]:
        """[(position, var)] for the variable elements."""
        return [
            (pos, v)
            for pos, v in (("s", self.s), ("o", self.o))
            if v.startswith("?")
        ]


@dataclass(frozen=True)
class Rule:
    head: Atom
    body: tuple[Atom, ...]


_ATOM_RE = re.compile(r"\(\s*([^,()\s]+)\s*,\s*([^,()\s]+)\s*,\s*([^,()\s]+)\s*\)")


def parse_rule(text: str) -> Rule:
    """``(?x, anc, ?z) <- (?x, parent, ?y), (?y, anc, ?z)``"""
    head_txt, _, body_txt = text.partition("<-")
    heads = _ATOM_RE.findall(head_txt)
    bodys = _ATOM_RE.findall(body_txt)
    if len(heads) != 1 or not bodys:
        raise ValueError(f"bad rule: {text!r}")
    if heads[0][1].startswith("?") or any(b[1].startswith("?") for b in bodys):
        raise ValueError("predicates must be constants")
    return Rule(Atom(*heads[0]), tuple(Atom(*b) for b in bodys))


def _bind_atom(facts: DataFrame, atom: Atom, idx: int) -> DataFrame:
    """Facts matching one body atom, columns renamed to its variables."""
    df = facts.where(F.col("p") == atom.p)
    if atom.s.startswith("?") and atom.s == atom.o:
        # repeated variable, e.g. (?x, link, ?x): an equality constraint,
        # bound once
        return df.where(F.col("s") == F.col("o")).select(
            F.col("s").alias(atom.s[1:])
        )
    cols = []
    for pos, val in (("s", atom.s), ("o", atom.o)):
        if val.startswith("?"):
            cols.append(F.col(pos).alias(f"{val[1:]}"))
        else:
            df = df.where(F.col(pos) == val)
    if cols:
        return df.select(*cols)
    # fully-ground atom: an existence check, not a row multiplier
    return df.select(F.lit(1).alias(f"__m{idx}__")).limit(1)


def _eval_rule(frames: list[DataFrame], rule: Rule) -> DataFrame:
    """Join the bound body atoms on shared variables, project the head."""
    joined = frames[0]
    seen = set(joined.columns)
    for f in frames[1:]:
        shared = [c for c in f.columns if c in seen]
        joined = joined.join(f, shared) if shared else joined.crossJoin(f)
        seen |= set(f.columns)
    out = []
    for pos, val in (("s", rule.head.s), ("o", rule.head.o)):
        out.append(
            F.col(val[1:]).alias(pos) if val.startswith("?") else F.lit(val).alias(pos)
        )
    out.insert(1, F.lit(rule.head.p).alias("p"))
    return joined.select(*out)


def infer(
    triples: DataFrame,
    rules: list[Rule],
    max_iter: int = 30,
) -> DataFrame:
    """Semi-naive fixpoint: round k derives only from joins where at
    least one body atom binds to round k-1's delta (the others bind to
    the accumulated set), so per-round shuffle volume tracks the new
    facts. Converges when the delta is empty; raises ``RuntimeError``
    if it is not empty after ``max_iter`` rounds.

    ``triples``: DataFrame (s, p, o). Returns base ∪ derived, distinct.
    """

    def derive(full: DataFrame, delta: DataFrame, _i: int) -> DataFrame:
        parts = [
            _eval_rule(
                [
                    _bind_atom(delta if k == di else full, atom, k)
                    for k, atom in enumerate(rule.body)
                ],
                rule,
            )
            for rule in rules
            for di in range(len(rule.body))
        ]
        return reduce(DataFrame.unionByName, parts)

    return saturate(
        triples.select("s", "p", "o"), derive, max_iter=max_iter, job_id="thinker.infer"
    )


def find(
    closure: DataFrame,
    s: str | None = None,
    p: str | None = None,
    o: str | None = None,
) -> DataFrame:
    """Thinker.find(s, p, o) — None = wildcard (the reference's Any)."""
    df = closure
    for col, val in (("s", s), ("p", p), ("o", o)):
        if val is not None:
            df = df.where(F.col(col) == val)
    return df
