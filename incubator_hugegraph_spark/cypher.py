"""openCypher read subset → DataFrame plans (SURVEY §3.3).

The reference exposes Cypher by translating it to Gremlin with the
openCypher-for-Gremlin library (api/api/cypher/CypherAPI.java:49-110;
api/opencypher/CypherOpProcessor.java:124-145 — CypherAst.parse →
gremlin steps). Our engine's declarative entry is Spark SQL over the
typed views; this module closes the remaining gap: a reference user's
actual Cypher read queries run verbatim, parsed here and compiled to
the same DataFrame joins the traverser operators use.

Supported grammar (the read core the reference's CypherApiTest
exercises, plus the idioms its openCypher translation layer accepts):

    MATCH (a:label)-[:rel]->(b:label)-[:rel2*1..3]->(c) ...
    [OPTIONAL MATCH pattern [WHERE ...]]*
    [WITH [DISTINCT] item [AS x], ... [ORDER BY ...] [SKIP n]
          [LIMIT n] [WHERE ...]  MATCH ...]*
    [WHERE cond [AND cond]*]
    RETURN [DISTINCT] item [AS alias] [, ...]
    [ORDER BY alias|item [ASC|DESC], ...] [SKIP n] [LIMIT n]

- Node: (var), (var:label). Relationship: -[:label]->, <-[:label]-,
  -[:label]- (BOTH), -[]-> (any label); multiple hops chain in one
  pattern; multiple comma-separated patterns join on shared vars.
- Variable-length: -[:label*]->, *n, *n.., *..m, *n..m. Each match is
  one distinct EDGE SEQUENCE (openCypher path multiplicity) and a
  relationship never repeats within one sequence (openCypher
  relationship isomorphism). Unbounded upper bounds are capped at
  DEFAULT_VARLEN_MAX hops — the same super-node/capacity-guard
  posture as the reference's traverser max_depth arguments
  (api/traversers/KoutAPI.java max_depth is mandatory there).
  Uniqueness across DIFFERENT relationship patterns of one MATCH is
  not enforced (documented deviation, shared with most SQL-backed
  Cypher engines; fixed-length hops are plain joins).
- OPTIONAL MATCH: left outer join on the vars shared with the part
  already matched; a WHERE attached to the OPTIONAL MATCH filters the
  optional side BEFORE the join (openCypher semantics). Conditions in
  an optional clause may reference vars bound inside that clause
  (including the shared ids).
- WITH: horizon chaining — projects/aggregates the rows so far, then
  further MATCH/WHERE/RETURN see only the projected columns. A bare
  node var carried through a non-aggregating WITH stays a node (its
  properties remain addressable); after an aggregating WITH a carried
  node var is re-hydrated from the vertex table on first property
  access.
- UNWIND list AS x: one row per element per incoming row (explode
  semantics — empty/null lists drop the row, as in openCypher);
  list operands are literals or list-typed property/expression values.
- WHERE: comparisons =, <>, <, <=, >, >=, CONTAINS (word match,
  analyzer semantics), STARTS/ENDS WITH, IN [..], IS NULL / IS NOT
  NULL, exists(x.prop), and full boolean composition — AND / OR /
  XOR / NOT with parentheses, openCypher precedence (NOT > AND >
  XOR > OR). Top-level conjuncts split so each keeps per-condition
  placement/pushdown; disjunctions compile to one Column predicate
  (Or(...) reaches PushedFilters). Operands: var.prop, var (the
  vertex id), literals (incl. true/false/null), list literals,
  arithmetic (+ - * /), scalar function calls.
- Scalar functions (all built-in Column expressions — JVM codegen,
  no Python UDFs): toLower toUpper trim ltrim rtrim reverse replace
  split substring(0-indexed) left right size (string length / list
  size via the schema registry) toInteger toFloat toString toBoolean
  abs round ceil floor sqrt sign coalesce head last type(rel-var)
  exists.
- RETURN items: var (→ its id), var.prop, id(var), label(var),
  count(x), count(DISTINCT x), sum/avg/min/max(var.prop), count(*),
  arithmetic expressions (require AS alias). Aggregates trigger an
  implicit GROUP BY over the non-aggregated items (Cypher's
  aggregation rule).

Properties are typed through the schema registry (same rule as the
Gremlin DSL). The compiled plan is ordinary joins/filters/aggregates —
Catalyst pushes predicates into the scans exactly as §4.1 requires.
Var-length hops compile to an unrolled frontier join over the
adjacency view (multiplicity-preserving — the dedup'ing BFS kernels in
operators/bfs.py are the wrong shape for path counting); at scale each
hop is one shuffle on the join key, the same cost model as the
reference's per-step edge fetches.

Named paths: `MATCH p = (a)-[:rel*1..3]->(b)` binds the traversed
node-id and edge-id sequences; `nodes(p)` / `relationships(p)` /
`length(p)` project them (CypherOpProcessor.java:124-145 — the
reference translates full openCypher incl. path binding). The varlen
engine already carries the edge-key array for relationship
isomorphism, so exposing it adds no shuffle. A bare `p` in RETURN
projects the node-id sequence (id-only convention).

`shortestPath((a)-[*..k]->(b))` / `allShortestPaths(...)` wrap a
single (var-length) relationship chain: per distinct endpoint pair the
match keeps only minimum-hop paths — allShortestPaths keeps every one,
shortestPath keeps one deterministic representative (smallest edge-key
sequence). Compiled as the bounded var-length unroll followed by a
min-length window over the endpoint pair; endpoint predicates in WHERE
apply per openCypher after per-pair selection, and an equality anchor
(`WHERE a = ...`) pushes below the window (the pair is the partition
key) into the unroll's union branches, so an anchored search never
materializes all-pairs. The search depth is the declared upper bound
(default *..{DEFAULT_VARLEN_MAX}) — a bounded-depth BFS, the same
contract as the reference's ShortestPathTraverser depth argument
(core/traversal/algorithm/ShortestPathTraverser.java).

Writes — CREATE (nodes with literal property maps, relationships
between created/matched vars), MERGE pattern [ON CREATE SET …]
[ON MATCH SET …] (match-or-create: one existence probe per statement,
then the bind path or the upsert path; relationship MERGE inserts
exactly the missing edges via anti-join), SET n.prop = expr, [DETACH]
DELETE — all compile onto the batch MERGE surface (operators/mutate.py:
upsert_vertices/upsert_edges; anti-joins for DELETE), matching the
reference's own Cypher-created fixtures (test/api/CypherApiTest.java:62
`CREATE (n:person {…}) return n`). Batch-transaction semantics, not
row-at-a-time: per-id last-write-wins within one statement. A write
without RETURN returns an affected-element summary; RETURN of a
created var serializes the full element JSON (the REST door returns
the created vertex).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from incubator_hugegraph_spark.graph import PropertyGraph

#: Upper bound substituted for an unbounded var-length pattern (`*`,
#: `*n..`). Mirrors the reference's mandatory max_depth guards.
DEFAULT_VARLEN_MAX = 10

_TOKEN_RE = re.compile(r"""
    \s*(?:
      (?P<arrow><-|->|--|-|\[|\]|\(|\)|\{|\}|,|:|\.)
    | (?P<kw>(?i:OPTIONAL|MATCH|WHERE|RETURN|DISTINCT|ORDER|BY|SKIP|LIMIT
              |AND|OR|XOR|ASC|DESC|AS|IN|CONTAINS|STARTS|ENDS|WITH|NOT|IS
              |NULL|COUNT|SUM|AVG|MIN|MAX|ID|LABEL|UNWIND|CREATE|SET|DELETE
              |DETACH|NODES|RELATIONSHIPS|LENGTH|MERGE|ON|CASE|WHEN|THEN
              |ELSE|END|UNION|ALL|REMOVE|COLLECT|FOREACH)\b)
    | (?P<num>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<str>'(?:[^'\\]|\\.)*')
    | (?P<cmp><>|<=|>=|=|<|>|\*|\+|/|\|)
    | (?P<param>\$[A-Za-z_][A-Za-z0-9_]*)
    | (?P<name>[A-Za-z_][A-Za-z0-9_]*)
    )""", re.X)


_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f",
            "'": "'", '"': '"', "\\": "\\"}


def _unescape_str(raw: str) -> str:
    """Decode openCypher string-literal escapes. The tokenizer ACCEPTS
    backslash escapes (str group `(?:[^'\\\\]|\\\\.)*`) but the value
    previously kept the backslash verbatim, so 'O\\'Brien' compared
    (and wrote!) an 8-char literal containing a backslash — there was
    no way to express a quote inside a string (review r06). Unknown
    escapes keep the escaped character (Neo4j's lenient posture)."""
    return re.sub(r"\\(.)",
                  lambda m: _ESCAPES.get(m.group(1), m.group(1)), raw)


def _tokenize(q: str) -> list[tuple[str, str]]:
    out, i = [], 0
    q = q.strip()
    while i < len(q):
        m = _TOKEN_RE.match(q, i)
        if not m or m.end() == i:
            raise SyntaxError(f"cypher: cannot tokenize at {q[i:i+20]!r}")
        for g in ("arrow", "kw", "num", "str", "cmp", "param", "name"):
            v = m.group(g)
            if v is not None:
                out.append((g if g != "kw" else v.upper(), v))
                break
        i = m.end()
    out.append(("EOF", ""))
    return out


@dataclass
class _Rel:
    src: str
    dst: str
    label: str | None
    direction: str  # OUT / IN / BOTH relative to src
    min_hops: int = 1
    max_hops: int = 1
    var: str | None = None  # relationship variable (-[r:label]->)

    @property
    def varlen(self) -> bool:
        return (self.min_hops, self.max_hops) != (1, 1)


@dataclass
class _MatchClause:
    optional: bool = False
    nodes: dict[str, str | None] = field(default_factory=dict)  # var→label
    rels: list[_Rel] = field(default_factory=list)
    where: list[tuple] = field(default_factory=list)
    # named paths: path var → (node vars in chain order, indices into
    # ``rels`` for the chain's relationships)
    paths: dict[str, tuple[list[str], list[int]]] = \
        field(default_factory=dict)
    # shortestPath/allShortestPaths chains: path var → 'single' | 'all'
    shortest: dict[str, str] = field(default_factory=dict)


@dataclass
class _Proj:
    is_with: bool
    items: list[tuple] = field(default_factory=list)
    distinct: bool = False
    order: list[tuple] = field(default_factory=list)  # (expr, asc)
    skip: int = 0
    limit: int | None = None
    where: list[tuple] = field(default_factory=list)  # WITH-only, post-proj


@dataclass
class _Unwind:
    expr: tuple
    alias: str


@dataclass
class _Create:
    """CREATE pattern[, pattern…] — nodes with literal property maps
    and relationships between created/matched vars."""
    nodes: dict[str, str | None] = field(default_factory=dict)
    props: dict[str, dict] = field(default_factory=dict)  # var→{k: lit}
    rels: list[_Rel] = field(default_factory=list)
    rel_props: list[dict] = field(default_factory=list)  # per rels[i]


@dataclass
class _Set:
    assignments: list[tuple] = field(default_factory=list)  # (var,prop,expr)
    # SET n += {map} / SET n = {map}: (var, plus, [(key, expr), …]).
    # += merges (NULL-valued keys are removed, openCypher semantics);
    # = replaces the node's whole property map.
    map_assignments: list[tuple] = field(default_factory=list)


@dataclass
class _Merge:
    """MERGE pattern [ON CREATE SET …] [ON MATCH SET …] — match the
    whole pattern or create it atomically (batch semantics)."""
    create: _Create = field(default_factory=_Create)
    on_create: _Set | None = None
    on_match: _Set | None = None


@dataclass
class _Delete:
    vars: list[str] = field(default_factory=list)
    detach: bool = False


@dataclass
class _Remove:
    """REMOVE n.prop[, …] — delete property keys from matched
    vertices (openCypher REMOVE; label removal is rejected — the
    reference's data model is single-label)."""
    items: list[tuple] = field(default_factory=list)  # (var, prop)


@dataclass
class _Foreach:
    """FOREACH (x IN list | SET …) — per-element write over a list
    expression (openCypher's path-marking idiom; SET is the supported
    body, the overwhelmingly common form)."""
    var: str = ""
    src: tuple = ()
    sets: list = field(default_factory=list)


@dataclass
class _CallSub:
    """CALL { [WITH v, …] … RETURN … } — openCypher/GQL subquery
    clause. ``imports`` are the correlated outer vars (plain names,
    the importing-WITH rule); ``query`` is the parsed body."""
    imports: list = field(default_factory=list)
    query: "_Query" = None


@dataclass
class _Query:
    clauses: list = field(default_factory=list)  # _MatchClause|_Proj|_Unwind
    final: _Proj | None = None


class _Parser:
    def __init__(self, toks: list[tuple[str, str]],
                 params: dict | None = None):
        self.toks, self.i = toks, 0
        self.params = params or {}

    def _param(self, tok: tuple[str, str]):
        name = tok[1][1:]
        if name not in self.params:
            raise SyntaxError(f"cypher: missing parameter ${name}")
        return ("lit", self.params[name])

    def peek(self) -> tuple[str, str]:
        return self.toks[self.i]

    def next(self, *want: str) -> tuple[str, str]:
        t = self.toks[self.i]
        if want and t[0] not in want:
            raise SyntaxError(f"cypher: expected {want}, got {t}")
        self.i += 1
        return t

    def accept(self, kind: str) -> bool:
        if self.peek()[0] == kind:
            self.i += 1
            return True
        return False

    def _name(self) -> str:
        """Identifier — keywords double as identifiers where the
        grammar expects a name (the fixture's own vertex label is
        `order`)."""
        t = self.next()
        if t[0] == "name" or t[0].isalpha() and t[0].isupper():
            return t[1]
        raise SyntaxError(f"cypher: expected name, got {t}")

    # ---- clauses ----------------------------------------------------

    def parse(self) -> _Query:
        q = _Query()
        while True:
            t = self.peek()[0]
            if t in ("MATCH", "OPTIONAL"):
                mc = _MatchClause(optional=self.accept("OPTIONAL"))
                self.next("MATCH")
                self._pattern(mc)
                if self.accept("WHERE"):
                    mc.where.extend(self._where_conds())
                q.clauses.append(mc)
            elif t == "WITH":
                self.next()
                q.clauses.append(self._projection(is_with=True))
            elif t == "UNWIND":
                self.next()
                expr = self._expr()
                self.next("AS")
                q.clauses.append(_Unwind(expr, self._name()))
            elif t == "CREATE":
                self.next()
                q.clauses.append(self._create_pattern())
            elif t == "MERGE":
                self.next()
                m = _Merge(self._create_pattern())
                while self.accept("ON"):
                    which = self.next("CREATE", "MATCH")[0]
                    self.next("SET")
                    if which == "CREATE":
                        m.on_create = self._set_clause()
                    else:
                        m.on_match = self._set_clause()
                q.clauses.append(m)
            elif t == "SET":
                self.next()
                q.clauses.append(self._set_clause())
            elif t == "REMOVE":
                self.next()
                r = _Remove()
                while True:
                    var = self._name()
                    if self.peek()[1] == ":":
                        raise SyntaxError(
                            "cypher: REMOVE n:Label is not supported "
                            "(single-label data model)")
                    self._expect_val(".")
                    r.items.append((var, self._name()))
                    if self.peek()[1] != ",":
                        break
                    self.next()
                q.clauses.append(r)
            elif t == "FOREACH":
                self.next()
                self._expect_val("(")
                fe = _Foreach(var=self._name())
                self.next("IN")
                fe.src = self._expr()
                self._expect_val("|")
                while self.peek()[0] == "SET":
                    self.next()
                    fe.sets.append(self._set_clause())
                if not fe.sets:
                    raise SyntaxError(
                        "cypher: FOREACH body supports SET clauses")
                self._expect_val(")")
                q.clauses.append(fe)
            elif t in ("DELETE", "DETACH"):
                detach = self.accept("DETACH")
                self.next("DELETE")
                d = _Delete(detach=detach)
                d.vars.append(self._name())
                while self.peek()[1] == ",":
                    self.next()
                    d.vars.append(self._name())
                q.clauses.append(d)
            elif t == "name" and self.peek()[1].upper() == "CALL":
                self.next()
                q.clauses.append(self._call_subquery())
            elif t == "RETURN":
                if not q.clauses:
                    raise SyntaxError("cypher: RETURN before MATCH")
                self.next()
                q.final = self._projection(is_with=False)
                break
            elif t == "EOF" and any(
                    isinstance(c, (_Create, _Set, _Delete, _Merge,
                                   _Remove, _Foreach))
                    for c in q.clauses):
                break  # write query without RETURN → summary result
            else:
                raise SyntaxError(f"cypher: expected clause, got {t}")
        self.next("EOF")
        return q

    def _call_subquery(self) -> _CallSub:
        """``CALL { [WITH v, …] MATCH … RETURN … }`` — slice the
        token stream to the matching ``}`` (property maps nest) and
        parse the body with a fresh parser. The leading WITH, when
        present, must be a plain variable list (openCypher's
        importing-WITH rule)."""
        self._expect_val("{")
        depth, j = 1, self.i
        while j < len(self.toks):
            v = self.toks[j][1]
            if v == "{":
                depth += 1
            elif v == "}":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth:
            raise SyntaxError("cypher: CALL { … } missing closing }")
        sub = self.toks[self.i:j] + [("EOF", "EOF")]
        self.i = j + 1
        imports: list[str] = []
        k = 0
        if sub and sub[0][0] == "WITH":
            k = 1
            while True:
                if sub[k][0] != "name":
                    raise SyntaxError(
                        "cypher: CALL { WITH … } imports are plain "
                        "variable names")
                imports.append(sub[k][1])
                k += 1
                if sub[k][1] == ",":
                    k += 1
                    continue
                break
        inner = _Parser(sub[k:], self.params).parse()
        if inner.final is None:
            raise SyntaxError("cypher: CALL { … } must end in RETURN")
        for c in inner.clauses:
            if isinstance(c, (_Create, _Set, _Delete, _Merge,
                              _Remove, _Foreach)):
                raise SyntaxError(
                    "cypher: write clauses inside CALL { … } are "
                    "not supported")
        for pr in [c for c in inner.clauses
                   if isinstance(c, _Proj)] + [inner.final]:
            if pr.order or pr.skip or pr.limit is not None:
                raise SyntaxError(
                    "cypher: ORDER BY / SKIP / LIMIT inside "
                    "CALL { … } is not supported (per-row scope)")
        return _CallSub(imports, inner)

    def _prop_map(self) -> dict:
        """`{k: lit, …}` literal property map."""
        props: dict = {}
        self._expect_val("{")
        while self.peek()[1] != "}":
            k = self._name()
            self._expect_val(":")
            v = self._expr()
            if v[0] != "lit":
                raise SyntaxError(
                    "cypher: property map values must be literals")
            props[k] = v[1]
            if self.peek()[1] == ",":
                self.next()
        self._expect_val("}")
        return props

    def _create_pattern(self) -> _Create:
        c = _Create()

        def node() -> str:
            self.next("arrow")  # (
            var = self._name()
            label = None
            if self.peek()[1] == ":":
                self.next()
                label = self._name()
            if self.peek()[1] == "{":
                c.props[var] = self._prop_map()
            self.next("arrow")  # )
            if var not in c.nodes or c.nodes[var] is None:
                c.nodes[var] = label
            return var

        prev = node()
        while True:
            t = self.peek()[1]
            if t == ",":
                self.next()
                prev = node()
                continue
            if t in ("-", "<-"):
                head = self.next()[1]
                self._expect_val("[")
                rvar = None
                if self.peek()[1] == ":":
                    self.next()
                    label = self._name()
                else:
                    nm = self._name()
                    if self.peek()[1] == ":":  # -[r:label]-> form
                        rvar = nm
                        self.next()
                        label = self._name()
                    else:  # bare -[label]-> (legacy label-only form)
                        label = nm
                rp = {}
                if self.peek()[1] == "{":
                    rp = self._prop_map()
                self._expect_val("]")
                tail = self.next("arrow")[1]
                if head == "-" and tail == "->":
                    direction = "OUT"
                elif head == "<-" and tail == "-":
                    direction = "IN"
                else:
                    raise SyntaxError(
                        "cypher: CREATE relationships must be directed")
                nxt = node()
                c.rels.append(_Rel(prev, nxt, label, direction, var=rvar))
                c.rel_props.append(rp)
                prev = nxt
                continue
            break
        return c

    def _set_clause(self) -> _Set:
        s = _Set()
        while True:
            var = self._name()
            if self.peek()[1] == ".":
                self.next()
                prop = self._name()
                self._expect_val("=")
                s.assignments.append((var, prop, self._expr()))
            else:
                # SET n += {map} | SET n = {map} — map literal or a
                # $param whose value is a dict (resolved at parse time
                # like every other parameter)
                plus = False
                if self.peek()[1] == "+":
                    self.next()
                    plus = True
                self._expect_val("=")
                if self.peek()[0] == "param":
                    val = self._param(self.next())[1]
                    if not isinstance(val, dict):
                        raise SyntaxError(
                            "cypher: SET n = $param needs a map value")
                    entries = [(k, ("lit", v)) for k, v in val.items()]
                else:
                    entries = self._expr_map()
                s.map_assignments.append((var, plus, entries))
            if self.peek()[1] != ",":
                break
            self.next()
        return s

    def _expr_map(self) -> list[tuple]:
        """`{k: expr, …}` map whose values are full expressions (the
        SET += / SET = payload — unlike pattern maps, values may
        reference matched variables, e.g. {age: n.age + 1})."""
        entries: list[tuple] = []
        self._expect_val("{")
        while self.peek()[1] != "}":
            k = self._name()
            self._expect_val(":")
            entries.append((k, self._expr()))
            if self.peek()[1] == ",":
                self.next()
        self._expect_val("}")
        return entries

    def _projection(self, is_with: bool) -> _Proj:
        p = _Proj(is_with=is_with)
        p.distinct = self.accept("DISTINCT")
        p.items.append(self._return_item())
        while self.peek()[1] == ",":
            self.next()
            p.items.append(self._return_item())
        if self.accept("ORDER"):
            self.next("BY")
            while True:
                expr = self._expr()
                asc = True
                if self.accept("DESC"):
                    asc = False
                else:
                    self.accept("ASC")
                p.order.append((expr, asc))
                if self.peek()[1] != ",":
                    break
                self.next()
        if self.accept("SKIP"):
            p.skip = int(self.next("num")[1])
        if self.accept("LIMIT"):
            p.limit = int(self.next("num")[1])
        if is_with and self.accept("WHERE"):
            p.where.extend(self._where_conds())
        return p

    def _expect_val(self, val: str) -> None:
        t = self.next()
        if t[1] != val:
            raise SyntaxError(f"cypher: expected {val!r}, got {t[1]!r}")

    def _pattern(self, q: _MatchClause) -> None:
        def path_var() -> str | None:
            # `p = (a)-[…]->(b)` — named path binding for one chain
            if (self.peek()[0] == "name"
                    and self.toks[self.i + 1][1] == "="):
                pv = self.next()[1]
                self.next()  # =
                return pv
            return None

        def shortest_fn() -> str | None:
            # shortestPath(( … )) / allShortestPaths(( … )) around one
            # relationship chain (openCypher single-pattern restriction)
            if (self.peek()[0] == "name"
                    and self.peek()[1] in ("shortestPath",
                                           "allShortestPaths")
                    and self.toks[self.i + 1][1] == "("):
                mode = ("single" if self.next()[1] == "shortestPath"
                        else "all")
                self.next()  # (
                return mode
            return None

        def close_path() -> None:
            nonlocal pv
            if sp_open:
                raise SyntaxError("cypher: unclosed shortestPath(")
            if sp is not None:
                if pv is None:
                    self._spgen = getattr(self, "_spgen", 0) + 1
                    pv = f"__sp{self._spgen}"
                if len(chain_rels) != 1:
                    raise SyntaxError(
                        "cypher: shortestPath() takes a single "
                        "relationship pattern")
                r = q.rels[chain_rels[0]]
                if r.min_hops > 1:
                    raise SyntaxError(
                        "cypher: shortestPath() lower bound must be "
                        "0 or 1")
                q.shortest[pv] = sp
            if pv is not None:
                q.paths[pv] = (chain_nodes[:], chain_rels[:])

        pv = path_var()
        sp = shortest_fn()
        sp_open = sp is not None
        chain_nodes: list[str] = []
        chain_rels: list[int] = []
        prev = self._node(q)
        chain_nodes.append(prev)
        while True:
            t = self.peek()[1]
            if t == ")" and sp_open:
                self.next()
                sp_open = False
                continue
            if t == ",":
                close_path()
                self.next()
                pv = path_var()
                sp = shortest_fn()
                sp_open = sp is not None
                chain_nodes, chain_rels = [], []
                prev = self._node(q)
                chain_nodes.append(prev)
                continue
            if t == "--" or (t == "<-"
                             and self.toks[self.i + 1][1] == "-"):
                # bracketless anonymous-relationship shorthand
                # (review r06 — WHERE pattern predicates supported
                # these, MATCH rejected them): (a)-->(b) tokenizes as
                # '--' '>' ; (a)<--(b) as '<-' '-' ; (a)--(b) BOTH
                if t == "--":
                    self.next()
                    direction = "BOTH"
                    if self.peek()[1] == ">":
                        self.next()
                        direction = "OUT"
                else:
                    self.next()
                    self.next()
                    direction = "IN"
                nxt = self._node(q)
                q.rels.append(_Rel(prev, nxt, None, direction, 1, 1,
                                   None))
                chain_rels.append(len(q.rels) - 1)
                chain_nodes.append(nxt)
                prev = nxt
                continue
            if t in ("-", "<-"):
                head = self.next()[1]
                label = None
                rvar = None
                lo, hi = 1, 1
                self._expect_val("[")
                if self.peek()[0] == "name":  # relationship variable
                    rvar = self.next()[1]
                if self.peek()[1] == ":":
                    self.next()
                    label = self._name()
                if self.peek()[1] == "*":
                    self.next()
                    lo, hi = self._varlen_bounds()
                self._expect_val("]")
                tail = self.next("arrow")[1]  # -> or -
                if head == "-" and tail == "->":
                    direction = "OUT"
                elif head == "<-" and tail == "-":
                    direction = "IN"
                elif head == "-" and tail == "-":
                    direction = "BOTH"
                else:
                    raise SyntaxError(
                        f"cypher: bad relationship {head}[..]{tail}")
                nxt = self._node(q)
                if rvar is not None and (lo, hi) != (1, 1):
                    raise SyntaxError(
                        "cypher: a variable on a var-length "
                        "relationship binds a LIST — not supported")
                q.rels.append(_Rel(prev, nxt, label, direction, lo, hi,
                                   rvar))
                chain_rels.append(len(q.rels) - 1)
                chain_nodes.append(nxt)
                prev = nxt
                continue
            break
        close_path()

    def _varlen_bounds(self) -> tuple[int, int]:
        """Bounds after `*`: '', 'n', 'n..', '..m', 'n..m'."""
        lo: int | None = None
        hi: int | None = None
        if self.peek()[0] == "num":
            lo = int(self.next()[1])
        if self.peek()[1] == ".":
            self._expect_val(".")
            self._expect_val(".")
            if self.peek()[0] == "num":
                hi = int(self.next()[1])
        elif lo is not None:
            hi = lo  # exact length *n
        if lo is None:
            lo = 1
        if hi is None:
            hi = max(lo, DEFAULT_VARLEN_MAX)
        if lo < 0 or hi < lo:
            raise SyntaxError(f"cypher: bad var-length bounds *{lo}..{hi}")
        return lo, hi

    def _node(self, q: _MatchClause) -> str:
        self.next("arrow")  # (
        # anonymous nodes — `()` or `(:label)` — bind a fresh hidden
        # variable so the join machinery stays uniform
        if self.peek()[1] in (":", ")", "{"):
            self._anon = getattr(self, "_anon", 0) + 1
            var = f"__anon{self._anon}"
        else:
            var = self._name()
        label = None
        if self.peek()[1] == ":":
            self.next()
            label = self._name()
        if self.peek()[1] == "{":
            # inline property map = equality predicates (openCypher)
            for k, v in self._prop_map().items():
                q.where.append(("cmp", "=", ("prop", var, k), ("lit", v)))
        self.next("arrow")  # )
        if var not in q.nodes or q.nodes[var] is None:
            q.nodes[var] = label
        return var

    # ---- expressions ------------------------------------------------

    def _expr(self):
        """Additive expression over operands (lowest precedence)."""
        left = self._term()
        while self.peek()[1] in ("+", "-") and self.peek()[0] in (
                "cmp", "arrow"):
            op = self.next()[1]
            left = ("arith", op, left, self._term())
        return left

    def _term(self):
        left = self._operand()
        while self.peek()[1] in ("*", "/"):
            op = self.next()[1]
            left = ("arith", op, left, self._operand())
        return left

    def _case_expr(self):
        """``CASE [subject] WHEN … THEN … [ELSE …] END``. Searched
        form (no subject): WHEN takes a full boolean expression.
        Simple form: WHEN values compare to the subject by equality.
        Alternatives are stored FLAT ([w1, t1, w2, t2, …]) so the
        generic AST walkers (_expr_vars) see every sub-expression."""
        self.next("CASE")
        subject = None
        if self.peek()[0] != "WHEN":
            subject = self._expr()
        whens: list = []
        while self.accept("WHEN"):
            whens.append(self._bool_or() if subject is None
                         else self._expr())
            self.next("THEN")
            whens.append(self._expr())
        if not whens:
            raise SyntaxError("cypher: CASE needs at least one WHEN")
        els = self._expr() if self.accept("ELSE") else None
        self.next("END")
        return ("case", subject, whens, els)

    def _operand(self):
        t = self.peek()
        if t == ("arrow", "-"):
            # unary minus: '-1' tokenizes as arrow '-' + num '1' (the
            # arrow group consumes '-' before the num pattern's '-?'
            # can — review r06: every negative literal raised
            # SyntaxError). Fold literal numbers; otherwise 0 - expr.
            self.next()
            inner = self._operand()
            if inner[0] == "lit" and isinstance(inner[1], (int, float)):
                return ("lit", -inner[1])
            return ("arith", "-", ("lit", 0), inner)
        if t[0] == "CASE":
            return self._case_expr()
        if t[1] == "(":
            self.next()
            inner = self._expr()
            self._expect_val(")")
            return inner
        if t[1] == "[":  # list literal or comprehension
            self.next()
            if self.peek()[0] == "name" \
                    and self.toks[self.i + 1][0] == "IN":
                # [x IN xs [WHERE pred] [| expr]] — openCypher list
                # comprehension → F.filter / F.transform (JVM-side
                # higher-order functions, no Python round-trip)
                var = self._name()
                self.next("IN")
                src = self._expr()
                where = self._bool_or() if self.accept("WHERE") else None
                mapped = None
                if self.peek()[1] == "|":
                    self.next()
                    mapped = self._expr()
                self._expect_val("]")
                return ("listcomp", var, src, where, mapped)
            items = []
            while self.peek()[1] != "]":
                items.append(self._expr())
                if self.peek()[1] == ",":
                    self.next()
            self._expect_val("]")
            return ("list", items)
        if (t[0] in ("COUNT", "SUM", "AVG", "MIN", "MAX", "COLLECT",
                     "ID", "LABEL", "NODES", "RELATIONSHIPS", "LENGTH")
                and self.toks[self.i + 1][1] == "("):
            fn = self.next()[0]
            self.next("arrow")  # (
            if fn == "COUNT" and self.peek()[1] == "*":
                self.next()
                self.next("arrow")
                return ("agg", "COUNT", None, False)
            distinct = self.accept("DISTINCT")
            inner = self._expr()
            self.next("arrow")  # )
            if fn in ("ID", "LABEL"):
                return (fn.lower(), inner)
            if fn in ("NODES", "RELATIONSHIPS", "LENGTH"):
                if inner[0] != "var":
                    raise SyntaxError(
                        f"cypher: {fn.lower()}() takes a path variable")
                return ("pathfn", fn.lower(), inner[1])
            return ("agg", fn, inner, distinct)
        if t[0] == "num":
            self.next()
            v = t[1]
            is_float = "." in v or "e" in v or "E" in v
            return ("lit", float(v) if is_float else int(v))
        if t[0] == "str":
            self.next()
            return ("lit", _unescape_str(t[1][1:-1]))
        if t[0] == "param":
            self.next()
            return self._param(t)
        if t[0] == "NULL":
            self.next()
            return ("lit", None)
        if t[0] == "ALL" and self.toks[self.i + 1][1] == "(":
            # all(x IN xs WHERE p) — ALL is also the UNION ALL keyword
            self.next()
            return self._fn_call("all")
        if t[0] == "name" or (t[0].isalpha() and t[0].isupper()
                              and t[0] != "EOF"):
            var = self._name()
            if var.upper() in ("EXISTS", "COUNT") \
                    and self.peek()[1] == "{":
                return self._subquery_expr(
                    "existssub" if var.upper() == "EXISTS"
                    else "countsub")
            if t[0] == "name" and self.peek()[1] == "(":
                return self._fn_call(var.lower())
            if var.lower() in ("true", "false") and self.peek()[1] != ".":
                return ("lit", var.lower() == "true")
            if self.peek()[1] == ".":
                self.next()
                prop = self._name()
                return ("prop", var, prop)
            return ("var", var)
        raise SyntaxError(f"cypher: bad operand {t}")

    def _subquery_expr(self, kind: str):
        """``EXISTS { [MATCH] pattern [WHERE …] }`` /
        ``COUNT { … }`` — openCypher/GQL existential and counting
        subqueries. The body is one MATCH clause (comma patterns +
        WHERE); vars shared with the outer query correlate the
        subquery (openCypher name-sharing rule), vars introduced
        inside stay local."""
        self._expect_val("{")
        self.accept("MATCH")
        mc = _MatchClause()
        self._pattern(mc)
        if self.accept("WHERE"):
            mc.where.extend(self._where_conds())
        self._expect_val("}")
        return (kind, mc)

    def _fn_call(self, fname: str):
        """Scalar function call ``f(arg, …)`` — names, not keywords
        (aggregates/id/label/path functions parse above)."""
        self._expect_val("(")
        if fname == "exists" and self._looks_like_pattern():
            pp = self._pattern_pred()
            self._expect_val(")")
            return pp
        if fname in ("any", "all", "none", "single"):
            # quantifier predicates over lists → F.exists / F.forall
            var = self._name()
            self.next("IN")
            src = self._expr()
            self.next("WHERE")
            cond = self._bool_or()
            self._expect_val(")")
            return ("quant", fname, var, src, cond)
        if fname == "reduce":
            # reduce(acc = init, x IN xs | expr) → F.aggregate
            acc = self._name()
            self._expect_val("=")
            init = self._expr()
            self._expect_val(",")
            var = self._name()
            self.next("IN")
            src = self._expr()
            self._expect_val("|")
            body = self._expr()
            self._expect_val(")")
            return ("reduce", acc, init, var, src, body)
        args = []
        while self.peek()[1] != ")":
            args.append(self._expr())
            if self.peek()[1] == ",":
                self.next()
        self._expect_val(")")
        if fname == "labels":
            # labels(n) → singleton list (single-label data model, the
            # same collapse the reference's VertexLabel makes)
            if len(args) != 1 or args[0][0] != "var":
                raise SyntaxError("cypher: labels() takes a node variable")
            return ("labels", args[0])
        if fname in ("stdev", "stdevp"):
            if len(args) != 1:
                raise SyntaxError(f"cypher: {fname}() takes one argument")
            return ("agg", fname.upper(), args[0], False)
        if fname in ("percentilecont", "percentiledisc"):
            if len(args) != 2 or args[1][0] != "lit":
                raise SyntaxError(
                    f"cypher: {fname}(expr, p) needs a literal "
                    "percentile")
            return ("agg", fname.upper(), args[0], False,
                    float(args[1][1]))
        return ("fn", fname, args)

    # Boolean WHERE grammar, openCypher precedence NOT > AND > XOR > OR.
    # Top-level AND conjuncts split into a list so each keeps the
    # per-condition placement/pushdown the engine already does.

    def _where_conds(self) -> list[tuple]:
        out: list[tuple] = []

        def flat(c) -> None:
            if c[0] == "and":
                flat(c[1])
                flat(c[2])
            else:
                out.append(c)

        flat(self._bool_or())
        return out

    def _bool_or(self):
        left = self._bool_xor()
        while self.accept("OR"):
            left = ("or", left, self._bool_xor())
        return left

    def _bool_xor(self):
        left = self._bool_and()
        while self.accept("XOR"):
            left = ("xor", left, self._bool_and())
        return left

    def _bool_and(self):
        left = self._bool_not()
        while self.accept("AND"):
            left = ("and", left, self._bool_not())
        return left

    def _bool_not(self):
        if self.accept("NOT"):
            return ("not", self._bool_not())
        return self._bool_atom()

    def _looks_like_pattern(self) -> bool:
        """Lookahead at '(': does a node pattern follow (matching ')'
        then a relationship dash), rather than a parenthesized
        expression?"""
        j = self.i
        if self.toks[j][1] != "(":
            return False
        j += 1
        while j < len(self.toks) and self.toks[j][1] not in (")", "(",
                                                             "."):
            j += 1
        if j >= len(self.toks) or self.toks[j][1] in ("(", "."):
            # nested '(' or a property access → boolean/arith grouping
            # (a node-pattern interior is only [name][:label][{...}])
            return False
        return (j + 1 < len(self.toks)
                and self.toks[j + 1][1] in ("-", "<-", "--"))

    def _pat_node_inner(self) -> tuple[str | None, str | None]:
        var = label = None
        if self.peek()[0] == "name":
            var = self._name()
        if self.peek()[1] == ":":
            self.next()
            label = self._name()
        return var, label

    def _pattern_pred(self):
        """Single-hop pattern predicate ``(a)-[:r]->(b)`` (openCypher
        path-pattern-in-WHERE / exists(pattern)) → ("patpred", …);
        compiled as an existence marker semi-join, so it composes with
        NOT/OR/XOR like any boolean."""
        self._expect_val("(")
        sv, sl = self._pat_node_inner()
        self._expect_val(")")
        rlabel = None
        left_in = right_out = False
        lead = self.next()[1]  # '-' | '<-' | '--'
        if lead == "<-":
            left_in = True
        if lead != "--" and self.peek()[1] == "[":
            self.next()
            if self.peek()[0] == "name":
                self._name()  # rel var in a predicate is ignored
            if self.peek()[1] == ":":
                self.next()
                rlabel = self._name()
            self._expect_val("]")
        trail = self.peek()[1]
        if trail == "->":
            self.next()
            right_out = True
        elif trail in ("-", "--"):
            self.next()
        elif trail == ">":  # '-->' tokenizes as '--' '>'
            self.next()
            right_out = True
        if left_in and right_out:
            raise SyntaxError("cypher: pattern predicate cannot point "
                              "both ways")
        self._expect_val("(")
        dv, dl = self._pat_node_inner()
        self._expect_val(")")
        direction = "IN" if left_in else "OUT" if right_out else "BOTH"
        if sv is None and dv is None:
            raise SyntaxError("cypher: pattern predicate needs a bound "
                              "variable on at least one end")
        return ("patpred", sv, sl, rlabel, direction, dv, dl)

    def _bool_atom(self):
        if self.peek()[1] == "(" and self._looks_like_pattern():
            return self._pattern_pred()
        if self.peek()[1] == "(":
            # `(` is ambiguous: boolean grouping vs arithmetic grouping
            # (`(a.x + 1) > 2`). Try boolean first; backtrack on failure
            # or when an operator follows the closing paren.
            save = self.i
            try:
                self.next()
                inner = self._bool_or()
                self._expect_val(")")
                if self.peek()[0] == "cmp" or self.peek()[1] in (
                        "+", "-", "*", "/"):
                    raise SyntaxError("cypher: arithmetic grouping")
                return inner
            except SyntaxError:
                self.i = save
        return self._condition()

    def _condition(self):
        left = self._expr()
        t = self.peek()
        if t[0] == "IS":
            self.next()
            negated = self.accept("NOT")
            self.next("NULL")
            return ("isnull", left, negated)
        if t[0] == "cmp":
            op = self.next()[1]
            return ("cmp", op, left, self._expr())
        if t[0] == "CONTAINS":
            self.next()
            return ("contains", left, self._expr())
        if t[0] in ("STARTS", "ENDS"):
            kind = self.next()[0]
            self.next("WITH")
            return ("strpred", kind.lower(), left, self._expr())
        if t[0] == "IN":
            self.next()
            if self.peek()[0] == "param":
                vals = self._param(self.next())[1]
                if not isinstance(vals, (list, tuple)):
                    raise SyntaxError(
                        "cypher: IN $param needs a list value")
                return ("in", left, [("lit", v) for v in vals])
            self.next("arrow")  # [
            vals = []
            while self.peek()[1] != "]":
                # keep the expression NODE — extracting [1] assumed a
                # literal, so `IN [25, m.size]` silently contributed
                # the string "m" to the membership list (review r06)
                vals.append(self._expr())
                if self.peek()[1] == ",":
                    self.next()
            self.next("arrow")  # ]
            return ("in", left, vals)
        if left[0] in ("patpred", "existssub"):
            return left
        if left[0] in ("fn", "prop", "lit", "case", "quant"):
            # bare boolean expression — `exists(n.prop)`, a boolean
            # property, a CASE/quantifier yielding booleans, or a
            # literal (Spark's analyzer rejects non-boolean types
            # downstream)
            return ("boolval", left)
        raise SyntaxError(f"cypher: bad condition at {t}")

    def _return_item(self):
        expr = self._expr()
        alias = None
        if self.accept("AS"):
            alias = self._name()
        return (expr, alias)


# ---------------------------------------------------------------------


def _default_alias(expr) -> str:
    kind = expr[0]
    if kind == "var":
        return expr[1]
    if kind == "prop":
        return f"{expr[1]}_{expr[2]}"
    if kind in ("id", "label"):
        return f"{kind}_{_default_alias(expr[1])}"
    if kind == "pathfn":
        return f"{expr[1]}_{expr[2]}"
    if kind == "agg":
        inner = "star" if expr[2] is None else _default_alias(expr[2])
        return f"{expr[1].lower()}_{inner}"
    if kind == "fn":
        return expr[1]
    if kind == "labels":
        return f"labels_{expr[1][1]}"
    if kind == "case":
        return "case"
    if kind == "existssub":
        return "exists"
    if kind == "countsub":
        return "count"
    if kind == "arith":
        raise SyntaxError(
            "cypher: arithmetic RETURN/WITH items need an AS alias")
    return "expr"


def _expr_vars(expr, out: set[str]) -> None:
    """Vars whose PROPERTIES the expression touches (hydration set)."""
    if not isinstance(expr, tuple):
        return
    if expr[0] == "prop":
        out.add(expr[1])
        return
    if expr[0] in ("label", "labels"):
        out.add(expr[1][1])
        return
    if expr[0] == "fn" and expr[1] in ("properties", "keys"):
        for a in expr[2]:
            if isinstance(a, tuple) and a[0] == "var":
                out.add(a[1])
        return
    for part in expr[1:]:
        if isinstance(part, tuple):
            _expr_vars(part, out)
        elif isinstance(part, list):
            for p in part:
                if isinstance(p, tuple):
                    _expr_vars(p, out)


def _cond_vars(cond, out: set[str]) -> None:
    for part in cond[1:]:
        if isinstance(part, tuple):
            _expr_vars(part, out)
        elif isinstance(part, list):
            for p in part:
                if isinstance(p, tuple):
                    _expr_vars(p, out)


class CypherEngine:
    """Compiles the openCypher read subset onto a PropertyGraph."""

    def __init__(self, graph: PropertyGraph):
        self.graph = graph
        self._typed_cols: dict[str, set[str]] = {}
        self._labels: dict[str, str | None] = {}
        self._bound: set[str] = set()
        self._rel_vars: set[str] = set()
        self._rel_labels: dict[str, str | None] = {}
        self._path_vars: set[str] = set()
        self._created_vars: set[str] = set()
        self._relgen = 0  # hidden rel-var counter for named paths
        self._lambda_env: dict[str, Column] = {}  # comprehension vars
        self._ppgen = 0  # pattern-predicate marker counter
        self._pp_cols: dict[int, str] = {}  # id(patpred) → marker col

    # ---- column compilation ----------------------------------------

    def _prop(self, var: str, prop: str) -> Column:
        if prop in self._typed_cols.get(var, ()):
            return F.col(f"__c_{var}_{prop}")  # typed view column
        if var in self._typed_cols:
            # labeled var compiled against its typed view: a property
            # the label's schema doesn't carry IS null (openCypher
            # missing-property semantics), not an error
            return F.lit(None)
        c = F.col(f"__p_{var}")[prop]
        pks = getattr(self.graph.schema, "property_keys", {}) \
            if self.graph.schema is not None else {}
        if prop in pks:
            return c.cast(pks[prop].spark_type())
        return c

    def _in_lambda(self, bindings: dict[str, Column], fn):
        """Compile ``fn()`` with comprehension variables bound to the
        higher-order-function lambda arguments."""
        old = self._lambda_env
        self._lambda_env = {**old, **bindings}
        try:
            return fn()
        finally:
            self._lambda_env = old

    def _col(self, expr) -> Column:
        kind = expr[0]
        if kind == "var":
            if expr[1] in self._lambda_env:
                return self._lambda_env[expr[1]]
            if expr[1] in self._path_vars:
                # a bare path var projects its node-id sequence (the
                # id-only analogue of the read path's var→id rule)
                return F.col(f"__path_n_{expr[1]}")
            if expr[1] in self._created_vars:
                # a created element serializes fully (the REST door
                # returns the whole created vertex — CypherApiTest
                # asserts on a property value in the response)
                v = expr[1]
                return F.to_json(F.struct(
                    F.col(v).alias("id"),
                    F.col(f"__l_{v}").alias("label"),
                    F.col(f"__p_{v}").alias("properties")))
            return F.col(expr[1])
        if kind == "pathfn":
            _, fn, pv = expr
            if pv not in self._path_vars:
                raise SyntaxError(f"cypher: {pv} is not a named path")
            if fn == "nodes":
                return F.col(f"__path_n_{pv}")
            if fn == "relationships":
                return F.col(f"__path_r_{pv}")
            return F.size(F.col(f"__path_r_{pv}"))  # length(p)
        if kind == "prop":
            return self._prop(expr[1], expr[2])
        if kind == "id":
            return self._col(expr[1])
        if kind == "label":
            return F.col(f"__l_{expr[1][1]}")
        if kind == "lit":
            return F.lit(expr[1])
        if kind == "arith":
            _, op, l, r = expr
            lc, rc = self._col(l), self._col(r)
            return {"+": lc + rc, "-": lc - rc,
                    "*": lc * rc, "/": lc / rc}[op]
        if kind == "list":
            return F.array(*[self._col(i) for i in expr[1]])
        if kind == "fn":
            return self._fn(expr[1], expr[2])
        if kind == "labels":
            # labels(null) is null (openCypher) — wrapping a null
            # label into [null] made `labels(b) IS NULL` false after
            # an OPTIONAL MATCH miss (review r06)
            var = expr[1][1]
            return F.when(F.col(var).isNotNull(),
                          F.array(F.col(f"__l_{var}")))
        if kind == "case":
            _, subject, whens, els = expr
            col = None
            for i in range(0, len(whens), 2):
                cond = (self._col(subject) == self._col(whens[i])
                        if subject is not None
                        else self._filter(whens[i]))
                then = self._col(whens[i + 1])
                col = F.when(cond, then) if col is None \
                    else col.when(cond, then)
            return col if els is None else col.otherwise(self._col(els))
        if kind in ("patpred", "existssub"):
            pcol = self._pp_cols.get(id(expr))
            if pcol is None:
                raise SyntaxError(
                    "cypher: pattern predicate not attached (only "
                    "WHERE and RETURN/WITH items are supported)")
            return F.coalesce(F.col(pcol), F.lit(False))
        if kind == "countsub":
            pcol = self._pp_cols.get(id(expr))
            if pcol is None:
                raise SyntaxError(
                    "cypher: COUNT { … } not attached (only WHERE "
                    "and RETURN/WITH items are supported)")
            return F.coalesce(F.col(pcol), F.lit(0)).cast("long")
        if kind == "listcomp":
            _, var, src, where, mapped = expr
            c = self._col(src)
            if where is not None:
                c = F.filter(c, lambda x: self._in_lambda(
                    {var: x}, lambda: self._filter(where)))
            if mapped is not None:
                c = F.transform(c, lambda x: self._in_lambda(
                    {var: x}, lambda: self._col(mapped)))
            return c
        if kind == "quant":
            _, which, var, src, cond = expr
            c = self._col(src)

            def lam(x):
                return self._in_lambda({var: x},
                                       lambda: self._filter(cond))
            if which == "any":
                return F.exists(c, lam)
            if which == "all":
                return F.forall(c, lam)
            if which == "none":
                return ~F.exists(c, lam)
            return F.size(F.filter(c, lam)) == 1  # single
        if kind == "reduce":
            _, acc, init, var, src, body = expr
            c = self._col(src)
            zero = self._col(init)
            if init[0] == "lit" and isinstance(init[1], int):
                # widen the int literal so the accumulator type is
                # stable against long list elements (F.aggregate
                # requires zero/merge type agreement)
                zero = zero.cast("long")
            return F.aggregate(c, zero, lambda a, x: self._in_lambda(
                {acc: a, var: x}, lambda: self._col(body)))
        raise SyntaxError(f"cypher: cannot compile {expr}")

    def _is_array(self, expr) -> bool:
        """Static list-typed check for ``size()`` dispatch (openCypher
        size() counts list elements but string characters)."""
        if expr[0] == "list":
            return True
        if expr[0] == "pathfn" and expr[1] in ("nodes", "relationships"):
            return True
        if expr[0] == "fn" and expr[1] == "split":
            return True
        if expr[0] == "var" and expr[1] in self._path_vars:
            return True
        if expr[0] == "prop":
            pks = getattr(self.graph.schema, "property_keys", {}) \
                if self.graph.schema is not None else {}
            pk = pks.get(expr[2])
            if pk is not None:
                from pyspark.sql.types import ArrayType
                return isinstance(pk.spark_type(), ArrayType)
        return False

    def _fn(self, name: str, args: list) -> Column:
        """openCypher scalar functions → built-in Column expressions
        (JVM-side, codegen'd — never Python UDFs). The set mirrors what
        the reference's openCypher translation accepts
        (api/opencypher/CypherOpProcessor.java — full openCypher via
        CypherAst; these are the functions its test queries and the
        openCypher TCK lean on)."""
        if name in ("properties", "keys"):
            # properties(n) → the node's property map; keys(n) → its
            # present-property names, sorted (openCypher returns only
            # EXISTING properties — nulls are absent). Typed-view vars
            # rebuild the map from their pruned columns; generic vars
            # carry the props map already.
            if len(args) != 1 or args[0][0] != "var":
                raise SyntaxError(
                    f"cypher: {name}() takes a node variable")
            var = args[0][1]
            if var in self._typed_cols:
                props = sorted(self._typed_cols[var])
                pairs = []
                for p in props:
                    c = F.col(f"__c_{var}_{p}")
                    pairs.append(F.when(c.isNotNull(), F.struct(
                        F.lit(p).alias("k"),
                        c.cast("string").alias("v"))))
                present = F.filter(F.array(*pairs),
                                   lambda x: x.isNotNull())
                if name == "keys":
                    return F.sort_array(
                        F.transform(present, lambda x: x["k"]))
                return F.map_from_entries(present)
            m = F.col(f"__p_{var}")
            if name == "keys":
                return F.sort_array(F.map_keys(m))
            return m
        cols = [self._col(a) for a in args]
        n = len(cols)

        def lit_int(i: int, default: int | None = None) -> int:
            if i >= len(args):
                return default
            if args[i][0] != "lit":
                raise SyntaxError(
                    f"cypher: {name}() argument {i + 1} must be a literal")
            return int(args[i][1])

        if name == "exists":
            return cols[0].isNotNull()
        if name == "tolower":
            return F.lower(cols[0])
        if name == "toupper":
            return F.upper(cols[0])
        if name == "trim":
            return F.trim(cols[0])
        if name == "ltrim":
            return F.ltrim(cols[0])
        if name == "rtrim":
            return F.rtrim(cols[0])
        if name == "reverse":
            return F.reverse(cols[0])
        if name == "replace":
            return F.replace(cols[0], cols[1], cols[2])
        if name == "split":
            if args[1][0] != "lit":
                raise SyntaxError(
                    "cypher: split() delimiter must be a literal")
            return F.split(cols[0], re.escape(str(args[1][1])))
        if name == "substring":
            # Cypher indexes from 0, Spark's substring from 1
            length = cols[2] if n == 3 else F.lit(2 ** 31 - 1)
            return F.substring(cols[0], cols[1] + F.lit(1), length)
        if name == "left":
            return F.substring(cols[0], F.lit(1), cols[1])
        if name == "right":
            return F.substring(cols[0], -cols[1], cols[1])
        if name == "size":
            return F.size(cols[0]) if self._is_array(args[0]) \
                else F.length(cols[0])
        if name == "tointeger":
            return cols[0].cast("long")
        if name == "tofloat":
            return cols[0].cast("double")
        if name == "tostring":
            return cols[0].cast("string")
        if name == "toboolean":
            return cols[0].cast("boolean")
        if name == "abs":
            return F.abs(cols[0])
        if name == "round":
            return F.round(cols[0], lit_int(1, 0))
        if name == "ceil":
            return F.ceil(cols[0])
        if name == "floor":
            return F.floor(cols[0])
        if name == "sqrt":
            return F.sqrt(cols[0])
        if name == "sign":
            return F.signum(cols[0]).cast("int")
        if name == "coalesce":
            return F.coalesce(*cols)
        if name in ("datetime", "localdatetime"):
            # datetime('2020-01-01T12:00:00') → timestamp. ANSI cast
            # parses ISO-8601 (incl. the 'T' separator) JVM-side; the
            # zero-arg now() form is rejected — non-deterministic
            # expressions don't belong in a replayable batch plan
            # (reference translates full openCypher temporals,
            # api/opencypher/CypherOpProcessor.java:124-145)
            if n != 1:
                raise SyntaxError(
                    f"cypher: {name}() takes one ISO-8601 string")
            return cols[0].cast("timestamp")
        if name == "date":
            if n != 1:
                raise SyntaxError("cypher: date() takes one ISO string")
            return cols[0].cast("date")
        if name in ("year", "month", "day", "hour", "minute", "second"):
            # temporal component extraction (openCypher exposes these
            # as `dt.year` accessors; the function form keeps our
            # grammar LL(1) — same JVM extract expressions either way)
            if n != 1:
                raise SyntaxError(f"cypher: {name}() takes one value")
            ts = cols[0].cast("timestamp")
            return {"year": F.year, "month": F.month,
                    "day": F.dayofmonth, "hour": F.hour,
                    "minute": F.minute,
                    "second": F.second}[name](ts).cast("long")
        if name == "duration":
            # duration('P1DT2H30M') → interval, parsed at compile time
            # (literal only) into make_interval — stays JVM-side and
            # composes with +/- on timestamps
            if n != 1 or args[0][0] != "lit":
                raise SyntaxError(
                    "cypher: duration() takes one ISO-8601 literal")
            m = re.fullmatch(
                r"P(?:(\d+)Y)?(?:(\d+)M)?(?:(\d+)W)?(?:(\d+)D)?"
                r"(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+(?:\.\d+)?)S)?)?",
                str(args[0][1]))
            if m is None or not any(m.groups()):
                raise SyntaxError(
                    f"cypher: malformed duration {args[0][1]!r}")
            y, mo, w, d, h, mi, sec = (
                float(g) if g else 0 for g in m.groups())
            return F.make_interval(
                F.lit(int(y)), F.lit(int(mo)), F.lit(int(w)),
                F.lit(int(d)), F.lit(int(h)), F.lit(int(mi)),
                F.lit(sec))
        if name == "range":
            # range(start, end[, step]) — END-INCLUSIVE like Cypher
            # (Spark's sequence is also inclusive, so it maps 1:1)
            step = cols[2] if n == 3 else F.lit(1)
            return F.sequence(cols[0].cast("long"),
                              cols[1].cast("long"), step.cast("long"))
        if name == "head":
            return F.element_at(cols[0], 1)
        if name == "last":
            return F.element_at(cols[0], -1)
        if name == "type":
            if args[0][0] != "var" or args[0][1] not in self._rel_vars:
                raise SyntaxError(
                    "cypher: type() takes a relationship variable")
            return F.col(f"__l_{args[0][1]}")
        raise SyntaxError(f"cypher: unknown function {name}()")

    def _filter(self, cond) -> Column:
        kind = cond[0]
        if kind in ("patpred", "existssub"):
            col = self._pp_cols.get(id(cond))
            if col is None:
                raise SyntaxError(
                    "cypher: pattern predicates are only supported in "
                    "WHERE clauses")
            return F.coalesce(F.col(col), F.lit(False))
        if kind == "cmp":
            _, op, l, r = cond
            lc, rc = self._col(l), self._col(r)
            return {"=": lc == rc, "<>": lc != rc, "<": lc < rc,
                    "<=": lc <= rc, ">": lc > rc, ">=": lc >= rc}[op]
        if kind == "isnull":
            _, l, negated = cond
            c = self._col(l)
            return c.isNotNull() if negated else c.isNull()
        if kind == "contains":
            from incubator_hugegraph_spark.functions.text import tokenize
            _, l, r = cond
            if r[0] == "lit":
                if r[1] is None:
                    # x CONTAINS null is null (openCypher); str(None)
                    # was the token 'none' and MATCHED rows (review
                    # r06)
                    return F.lit(None).cast("boolean")
                return F.array_contains(tokenize(self._col(l)),
                                        str(r[1]).lower())
            # non-literal operand: compile it (review r06 — str(r[1])
            # turned `CONTAINS m.word` into the literal "m")
            return F.array_contains(tokenize(self._col(l)),
                                    F.lower(self._col(r)))
        if kind == "strpred":
            _, which, l, r = cond
            lc = self._col(l)
            if r[0] == "lit" and r[1] is None:
                # x STARTS/ENDS WITH null is null (openCypher);
                # str(None) matched names containing 'None' (review
                # r06)
                return F.lit(None).cast("boolean")
            rc = F.lit(str(r[1])) if r[0] == "lit" else self._col(r)
            return lc.startswith(rc) if which == "starts" \
                else lc.endswith(rc)
        if kind == "in":
            _, l, vals = cond
            lc = self._col(l)
            if all(isinstance(v, tuple) and v[0] == "lit"
                   for v in vals):
                return lc.isin([v[1] for v in vals])
            # non-literal elements compile to columns; membership is
            # array_contains over the built array
            return F.array_contains(
                F.array(*[self._col(v) for v in vals]), lc)
        if kind == "and":
            return self._filter(cond[1]) & self._filter(cond[2])
        if kind == "or":
            return self._filter(cond[1]) | self._filter(cond[2])
        if kind == "xor":
            # Cypher XOR three-valued logic: null if either side is
            # null — exactly boolean `!=`
            return self._filter(cond[1]) != self._filter(cond[2])
        if kind == "not":
            return ~self._filter(cond[1])
        if kind == "boolval":
            return self._col(cond[1])
        raise SyntaxError(f"cypher: cannot compile condition {cond}")

    # ---- pattern compilation ---------------------------------------

    def _node_df(self, var: str) -> DataFrame:
        """One column per node var (its id) plus the var's label and
        property columns. LABELED vars compile against the TYPED
        per-label view, so `WHERE p.size >= 45` is a plain typed-column
        predicate that reaches the parquet scan (PushedFilters) and the
        scan reads only referenced columns — the generic props-map
        fallback (unlabeled vars) evaluates the map build per row and
        blocks both. At 100 TB this is the difference between a pruned
        column scan and a full read."""
        g = self.graph
        label = self._labels.get(var)
        if label and label in getattr(g, "vertex_views", {}):
            view = g.view(label)
            props = [c for c in view.columns if c != "id"]
            self._typed_cols[var] = set(props)
            return view.select(
                F.col("id").alias(var),
                F.lit(label).alias(f"__l_{var}"),
                *[F.col(c).alias(f"__c_{var}_{c}") for c in props])
        v = g.vertices.select(
            F.col("id").alias(var),
            F.col("label").alias(f"__l_{var}"),
            F.col("props").alias(f"__p_{var}"))
        if label:
            v = v.filter(F.col(f"__l_{var}") == label)
        return v

    def _hydrate(self, df: DataFrame, vars_needed: set[str]) -> DataFrame:
        """Re-attach node columns for carried vars whose property
        columns were projected away by an aggregating WITH. The vertex
        table is unique by id, so the join is 1:1 (left, to preserve
        nulls from OPTIONAL MATCH)."""
        for v in sorted(vars_needed):
            if v in self._rel_vars:
                continue  # edge columns travel with the pattern
            if (v in df.columns and f"__l_{v}" not in df.columns
                    and f"__p_{v}" not in df.columns):
                df = df.join(self._node_df(v), on=v, how="left")
        return df

    def _rel_scan_labels(self, rel: _Rel) -> list[str] | None:
        """Schema-link pruning (GraphTransaction.optimizeQuery
        :1553-1589 — semantic pruning Catalyst can't derive): an
        unlabeled relationship between labeled endpoints scans only the
        edge labels the schema allows between them; an infeasible
        (label, endpoints) combination scans nothing. The '__none__'
        sentinel keeps the plan shape while the pushed isin([]) filter
        empties the scan."""
        g = self.graph
        sch = g.schema
        if sch is None or not getattr(sch, "edge_labels", None):
            return [rel.label] if rel.label else None
        sl = self._labels.get(rel.src)
        dl = self._labels.get(rel.dst)
        if rel.varlen:          # intermediate hops are unconstrained
            sl = dl = None

        def links(e) -> bool:
            fwd = ((sl is None or e.source_label == sl)
                   and (dl is None or e.target_label == dl))
            rev = ((sl is None or e.target_label == sl)
                   and (dl is None or e.source_label == dl))
            if rel.direction == "OUT":
                return fwd
            if rel.direction == "IN":
                return rev
            return fwd or rev
        cands = [n for n, e in sch.edge_labels.items()
                 if (rel.label is None or n == rel.label) and links(e)]
        if rel.label is None and len(cands) == len(sch.edge_labels):
            return None  # nothing pruned — keep the unfiltered view
        return cands or ["__none__"]

    def _rel_df(self, rel: _Rel) -> DataFrame:
        """Adjacency for a rel carrying a VARIABLE: endpoint columns
        plus the edge's identity (<var> = the EdgeId splice), label
        (__l_<var>) and properties. A single-label rel compiles
        against the TYPED edge view (__c_<var>_* columns — predicates
        on edge properties reach the scan); the generic form carries
        the props map."""
        g = self.graph
        v = rel.var
        if rel.label and rel.label in getattr(g, "edge_views", {}):
            ev = g.edge_views[rel.label]
            props = [c for c in ev.columns
                     if c not in ("src", "dst", "sort_values")]
            self._typed_cols[v] = set(props)
            eid = F.concat_ws(">", F.col("src"), F.lit(rel.label),
                              F.col("sort_values"), F.col("dst"))

            def orient(s: str, d: str) -> DataFrame:
                return ev.select(
                    F.col(s).alias(rel.src), F.col(d).alias(rel.dst),
                    eid.alias(v), F.lit(rel.label).alias(f"__l_{v}"),
                    *[F.col(c).alias(f"__c_{v}_{c}") for c in props])
        else:
            e = g.edges.select("src", "dst", "label", "sort_values",
                               "props")
            labels = self._rel_scan_labels(rel)
            if labels:
                e = e.filter(F.col("label").isin(labels))
            eid = F.concat_ws(">", F.col("src"), F.col("label"),
                              F.col("sort_values"), F.col("dst"))

            def orient(s: str, d: str) -> DataFrame:
                return e.select(
                    F.col(s).alias(rel.src), F.col(d).alias(rel.dst),
                    eid.alias(v), F.col("label").alias(f"__l_{v}"),
                    F.col("props").alias(f"__p_{v}"))
        if rel.direction == "OUT":
            return orient("src", "dst")
        if rel.direction == "IN":
            return orient("dst", "src")
        return orient("src", "dst").unionByName(orient("dst", "src"))

    def _varlen_pairs(self, rel: _Rel, carry: int | None = None) \
            -> DataFrame:
        """(src, dst) pair per distinct edge sequence of length
        min..max. Relationship isomorphism: a physical edge appears at
        most once per sequence (canonical edge key carried in an array
        column; under BOTH the two directed rows of one physical edge
        share a key, so a-b-a over a single edge is correctly
        excluded). Unrolled frontier joins — one shuffle per hop on the
        frontier's dst key, multiplicity-preserving.

        ``carry``: when the relationship belongs to a named path
        (CypherOpProcessor.java:124-145 — the reference translates
        full openCypher incl. path binding), also emit the traversed
        edge-id sequence (``__vl_r_{carry}``) and node-id sequence
        incl. both endpoints (``__vl_n_{carry}``) — the arrays are
        already tracked for isomorphism, so exposing them adds no
        extra shuffle."""
        track = carry is not None
        adj = self.graph.adj(rel.direction, self._rel_scan_labels(rel))
        ekey = F.concat_ws(
            ">",
            F.when(F.col("dir") == "IN", F.col("dst"))
            .otherwise(F.col("src")),
            F.col("label"), F.col("sort_values"),
            F.when(F.col("dir") == "IN", F.col("src"))
            .otherwise(F.col("dst")))
        base = adj.select(F.col("src").alias("__a"),
                          F.col("dst").alias("__b"), ekey.alias("__ek"))
        if rel.max_hops > 2:
            # deep ranges consume the edge view once per hop — pay one
            # materialization instead of max_hops re-derivations (the
            # same tradeoff operators/bfs.py::loop_adj makes). NOTE:
            # this makes the anchor filter non-pushable into the first
            # hop; for ≤2 hops the live view (pushdown-friendly, see
            # the plan audit in tests) wins instead.
            from incubator_hugegraph_spark.graph import checkpointed
            base = checkpointed(base)

        empty_s = F.array().cast("array<string>")

        def emit(df: DataFrame, zero: bool = False) -> DataFrame:
            if not track:
                return df.select("__a", "__b")
            if zero:
                return df.select("__a", "__b", empty_s.alias("__pr"),
                                 F.array(F.col("__a")).alias("__pn"))
            return df.select("__a", "__b", F.col("__eks").alias("__pr"),
                             F.col("__ns").alias("__pn"))

        outs: list[DataFrame] = []
        if rel.min_hops == 0:
            ids = self.graph.vertices.select(F.col("id").alias("__a"),
                                             F.col("id").alias("__b"))
            outs.append(emit(ids, zero=True))
        sel0 = [F.col("__a"), F.col("__b"), F.array("__ek").alias("__eks")]
        if track:
            sel0.append(F.array(F.col("__a"), F.col("__b")).alias("__ns"))
        cur = base.select(*sel0)
        if rel.min_hops <= 1:
            outs.append(emit(cur))
        step = base.select(F.col("__a").alias("__b"),
                           F.col("__b").alias("__nb"),
                           F.col("__ek"))
        for k in range(2, rel.max_hops + 1):
            seln = ["__a", F.col("__nb").alias("__b"),
                    F.array_append("__eks", F.col("__ek")).alias("__eks")]
            if track:
                seln.append(F.array_append("__ns", F.col("__nb"))
                            .alias("__ns"))
            cur = (cur.join(step, on="__b")
                   .filter(~F.array_contains(F.col("__eks"), F.col("__ek")))
                   .select(*seln))
            if k >= rel.min_hops:
                outs.append(emit(cur))
        if not outs:
            raise SyntaxError("cypher: empty var-length range")
        pairs = reduce(lambda a, b: a.unionByName(b), outs)
        sel = [F.col("__a").alias(rel.src), F.col("__b").alias(rel.dst)]
        if track:
            sel += [F.col("__pr").alias(f"__vl_r_{carry}"),
                    F.col("__pn").alias(f"__vl_n_{carry}")]
        return pairs.select(*sel)

    def _pattern_df(self, mc: _MatchClause, df: DataFrame | None,
                    bound: set[str],
                    skip_node_vars: set[str] = frozenset()) -> DataFrame:
        """Joins for one MATCH clause, continuing from ``df`` (vars in
        ``bound`` already have id columns). ``skip_node_vars``: shared
        vars of an OPTIONAL MATCH — their node rows live on the outer
        side, only the id column is used for the eventual left join."""
        g = self.graph

        def attach_node(cur: DataFrame | None, var: str) -> DataFrame:
            if var in skip_node_vars:
                assert cur is not None, \
                    "cypher: optional pattern must touch a shared var " \
                    "through a relationship"
                return cur
            nd = self._node_df(var)
            return nd if cur is None else cur.join(nd, on=var)

        # named paths: every chained relationship must expose its edge
        # identity — fixed hops get a hidden rel var (edge-id column),
        # var-length hops carry their sequence arrays
        carry_idx: set[int] = set()
        for _pv, (_nchain, ridxs) in mc.paths.items():
            for ridx in ridxs:
                r = mc.rels[ridx]
                if r.varlen:
                    carry_idx.add(ridx)
                elif r.var is None:
                    r.var = f"__pr{self._relgen}"
                    self._relgen += 1

        for rel_i, rel in enumerate(mc.rels):
            if rel.varlen:
                adj = self._varlen_pairs(
                    rel, carry=rel_i if rel_i in carry_idx else None)
            elif rel.var:
                adj = self._rel_df(rel)
            else:
                adj = g.adj(rel.direction, self._rel_scan_labels(rel)) \
                    .select(F.col("src").alias(rel.src),
                            F.col("dst").alias(rel.dst))
            if df is None:
                if rel.src in skip_node_vars:
                    df = adj
                else:
                    df = self._node_df(rel.src).join(adj, on=rel.src)
                bound.add(rel.src)
            elif rel.src in bound and rel.dst in bound:
                # closing edge of a cyclic pattern: equi-join on both
                # endpoints (inner join keeps Cypher match multiplicity)
                df = df.join(adj, on=[rel.src, rel.dst])
                continue
            elif rel.src in bound:
                df = df.join(adj, on=rel.src)
            elif rel.dst in bound:
                df = df.join(adj, on=rel.dst)
                rel = _Rel(rel.dst, rel.src, rel.label, rel.direction,
                           rel.min_hops, rel.max_hops)
            else:
                if rel.src in skip_node_vars:
                    df = df.crossJoin(adj)
                else:
                    df = df.crossJoin(
                        self._node_df(rel.src).join(adj, on=rel.src))
                bound.add(rel.src)
            if rel.dst not in bound:
                df = attach_node(df, rel.dst)
                bound.add(rel.dst)
        for var in mc.nodes:
            if var in bound or var in skip_node_vars:
                continue
            nd = self._node_df(var)
            df = nd if df is None else df.crossJoin(nd)
            bound.add(var)
        if df is None:
            raise SyntaxError(
                "cypher: OPTIONAL MATCH must connect to a bound var "
                "through a relationship")
        # materialize named-path columns: node-id + edge-id sequences
        # in pattern order (nodes(p)/relationships(p)/length(p))
        for pv, (nchain, ridxs) in mc.paths.items():
            rel_arrays: list[Column] = []
            node_cols: list[Column] = [F.array(F.col(nchain[0]))]
            for j, ridx in enumerate(ridxs):
                r = mc.rels[ridx]
                if r.varlen:
                    rel_arrays.append(F.col(f"__vl_r_{ridx}"))
                    c = F.col(f"__vl_n_{ridx}")
                    # drop the leading src (== previous chain node)
                    node_cols.append(F.slice(
                        c, F.lit(2), F.greatest(F.size(c) - 1, F.lit(0))))
                else:
                    rel_arrays.append(F.array(F.col(r.var)))
                    node_cols.append(F.array(F.col(nchain[j + 1])))
            df = df.withColumn(
                f"__path_r_{pv}",
                F.concat(*rel_arrays) if rel_arrays
                else F.array().cast("array<string>"))
            df = df.withColumn(f"__path_n_{pv}", F.concat(*node_cols))
            self._path_vars.add(pv)
        # shortestPath/allShortestPaths: per endpoint pair keep only
        # minimum-hop sequences. One window shuffle on the pair; an
        # anchored query's equality predicate pushes below it (the
        # pair IS the partition key) into the unroll's union branches.
        for pv, mode in mc.shortest.items():
            nchain, _ridxs = mc.paths[pv]
            ln = F.size(F.col(f"__path_r_{pv}"))
            w = Window.partitionBy(nchain[0], nchain[-1])
            df = (df.withColumn("__sp_min", F.min(ln).over(w))
                    .filter(ln == F.col("__sp_min")).drop("__sp_min"))
            if mode == "single":
                # one deterministic representative: smallest edge-key
                # sequence (openCypher allows any; determinism keeps
                # the result oracle-comparable)
                wo = w.orderBy(F.array_join(F.col(f"__path_r_{pv}"),
                                            ">"))
                df = (df.withColumn("__sp_rn", F.row_number().over(wo))
                        .filter(F.col("__sp_rn") == 1).drop("__sp_rn"))
            if pv.startswith("__sp"):  # unbound shortestPath(…) form
                df = df.drop(f"__path_r_{pv}", f"__path_n_{pv}")
                self._path_vars.discard(pv)
        if mc.paths:
            df = df.drop(*[c for c in df.columns
                           if c.startswith("__vl_")])
        return df

    # ---- pattern predicates -----------------------------------------

    def _attach_patpred(self, df: DataFrame, pp) -> tuple[DataFrame, str]:
        """Join an existence marker for one pattern predicate: the
        distinct qualifying endpoint set (a semi-join-shaped dimension
        — exactly the plan EXISTS would pick), left-joined as one
        boolean column so the predicate composes under NOT/OR/XOR.
        At scale this is a single shuffle on the anchor id; the marker
        is bounded by the distinct-endpoint count of the (label-
        filtered) edge set, never the edge multiplicity."""
        _, sv, sl, rlabel, direction, dv, dl = pp
        col = f"__pp_{self._ppgen}"
        self._ppgen += 1
        g = self.graph
        e = g.edges
        if rlabel is not None:
            e = e.filter(F.col("label") == rlabel)
        pairs = e.select(F.col("src").alias("__ppa"),
                         F.col("dst").alias("__ppb"))
        if direction == "IN":
            pairs = e.select(F.col("dst").alias("__ppa"),
                             F.col("src").alias("__ppb"))
        elif direction == "BOTH":
            pairs = pairs.unionByName(
                e.select(F.col("dst").alias("__ppa"),
                         F.col("src").alias("__ppb")))

        def restrict(p: DataFrame, key: str, lab: str | None) -> DataFrame:
            if lab is None:
                return p
            ids = g.vertices.filter(F.col("label") == lab).select(
                F.col("id").alias(key))
            return p.join(ids, on=key, how="leftsemi")

        sb = sv is not None and sv in self._bound
        db = dv is not None and dv in self._bound
        if not sb and not db:
            raise SyntaxError(
                "cypher: pattern predicate must reference a matched "
                f"variable ({sv or dv or '?'} is not bound)")
        if sb and db:
            # node-label assertions apply on BOTH endpoints (review
            # r06: they were silently dropped when both vars bound —
            # WHERE (a:software)--(b) passed non-software rows)
            pairs = restrict(restrict(pairs, "__ppa", sl), "__ppb", dl)
            if sv == dv:  # self-loop pattern (c)-->(c)
                marker = (pairs.filter(F.col("__ppa") == F.col("__ppb"))
                          .select(F.col("__ppa").alias(sv)).distinct()
                          .withColumn(col, F.lit(True)))
                return df.join(marker, on=sv, how="left"), col
            marker = (pairs.select(F.col("__ppa").alias(sv),
                                   F.col("__ppb").alias(dv))
                      .distinct().withColumn(col, F.lit(True)))
            return df.join(marker, on=[sv, dv], how="left"), col
        anchor, far_key, far_lab, near_lab = (
            (sv, "__ppb", dl, sl) if sb else (dv, "__ppa", sl, dl))
        pairs = restrict(pairs, far_key, far_lab)
        key = "__ppa" if sb else "__ppb"
        # the anchor side's label assertion restricts too (review r06:
        # near_lab was computed and never used)
        pairs = restrict(pairs, key, near_lab)
        marker = (pairs.select(F.col(key).alias(anchor)).distinct()
                  .withColumn(col, F.lit(True)))
        return df.join(marker, on=anchor, how="left"), col

    def _attach_subquery(self, df: DataFrame, node) \
            -> tuple[DataFrame, str]:
        """EXISTS{}/COUNT{} subquery → one marker column. The body
        compiles standalone (same machinery as OPTIONAL MATCH),
        grouped/distinct'ed down to the correlated (shared) vars, and
        left-joins back as a boolean / count. At scale: one shuffle on
        the shared-var key; marker cardinality is bounded by the
        distinct correlated-key count, never the subquery's match
        multiplicity. Reference anchor: the openCypher translation
        layer (api/opencypher/CypherOpProcessor.java) accepts full
        openCypher incl. existential subqueries."""
        kind, mc = node
        col = f"__pp_{self._ppgen}"
        self._ppgen += 1
        inner = set(mc.nodes) | {r.src for r in mc.rels} \
            | {r.dst for r in mc.rels}
        shared = sorted(v for v in inner & self._bound if v)
        if not shared:
            raise SyntaxError(
                "cypher: EXISTS/COUNT { … } must use at least one "
                "variable bound in the outer query")
        for var, lab in mc.nodes.items():
            if lab and self._labels.get(var) is None:
                self._labels[var] = lab
        sub_bound: set[str] = set()
        sub = self._pattern_df(mc, None, sub_bound,
                               skip_node_vars=set(shared))
        saved = set(self._bound)
        self._bound |= sub_bound
        try:
            sub = self._apply_where(sub, mc.where)
        finally:
            self._bound = saved
        if kind == "existssub":
            marker = (sub.select(*shared).distinct()
                      .withColumn(col, F.lit(True)))
        else:
            marker = sub.groupBy(*shared).agg(
                F.count(F.lit(1)).alias(col))
        return df.join(marker, on=shared, how="left"), col

    def _attach_marker(self, df: DataFrame, node) \
            -> tuple[DataFrame, str]:
        if node[0] == "patpred":
            return self._attach_patpred(df, node)
        return self._attach_subquery(df, node)

    def _apply_where(self, df: DataFrame, conds: list) -> DataFrame:
        """Attach pattern-predicate markers, filter, drop markers."""
        pps: list = []

        def walk(c) -> None:
            if not isinstance(c, tuple):
                return
            if c[0] in ("patpred", "existssub", "countsub"):
                pps.append(c)
                return
            for part in c[1:]:
                if isinstance(part, tuple):
                    walk(part)
                elif isinstance(part, list):
                    for sub in part:
                        walk(sub)

        for cond in conds:
            walk(cond)
        cols = []
        for pp in pps:
            df, c = self._attach_marker(df, pp)
            self._pp_cols[id(pp)] = c
            cols.append(c)
        for cond in conds:
            df = df.filter(self._filter(cond))
        return df.drop(*cols)

    # ---- clause application ----------------------------------------

    def _apply_match(self, df: DataFrame | None, mc: _MatchClause) \
            -> DataFrame:
        for var, lab in mc.nodes.items():
            if lab:
                existing = self._labels.get(var)
                if existing is None:
                    self._labels[var] = lab
        where_vars: set[str] = set()
        for cond in mc.where:
            _cond_vars(cond, where_vars)
        if mc.optional:
            if df is None:
                raise SyntaxError("cypher: OPTIONAL MATCH before MATCH")
            shared = sorted((set(mc.nodes) | {r.src for r in mc.rels}
                             | {r.dst for r in mc.rels}) & self._bound)
            sub_bound: set[str] = set()
            sub = self._pattern_df(mc, None, sub_bound,
                                   skip_node_vars=set(shared))
            self._bound |= sub_bound  # visible to pattern predicates
            sub = self._apply_where(sub, mc.where)
            if shared:
                df = df.join(sub, on=shared, how="left")
            else:
                df = df.crossJoin(sub)
            self._bound |= sub_bound
            self._track_rel_vars(mc)
            return df
        df = self._pattern_df(mc, df, self._bound)
        self._track_rel_vars(mc)
        df = self._hydrate(df, where_vars)
        return self._apply_where(df, mc.where)

    def _track_rel_vars(self, mc: _MatchClause) -> None:
        for rel in mc.rels:
            if rel.var:
                self._bound.add(rel.var)
                self._rel_vars.add(rel.var)
                if rel.label and not rel.varlen:
                    self._rel_labels.setdefault(rel.var, rel.label)

    def _apply_proj(self, df: DataFrame, p: _Proj) -> DataFrame:
        items = [(expr, alias or _default_alias(expr))
                 for expr, alias in p.items]
        needed: set[str] = set()
        for expr, _ in items:
            _expr_vars(expr, needed)
        for expr, _ in p.order:
            _expr_vars(expr, needed)
        for cond in p.where:
            _cond_vars(cond, needed)
        df = self._hydrate(df, needed)

        # RETURN/WITH items may embed pattern predicates
        # (exists((n)-[:x]->()) as a projected boolean) — attach their
        # existence markers before the select compiles
        pp_items: list = []

        def wpp(e) -> None:
            if not isinstance(e, tuple):
                return
            if e[0] in ("patpred", "existssub", "countsub"):
                pp_items.append(e)
                return
            for part in e[1:]:
                if isinstance(part, tuple):
                    wpp(part)
                elif isinstance(part, list):
                    for sub in part:
                        wpp(sub)

        for e, _ in items:
            wpp(e)
        for pp in pp_items:
            df, c = self._attach_marker(df, pp)
            self._pp_cols[id(pp)] = c

        has_agg = any(e[0] == "agg" for e, _ in items)
        carried_nodes: list[tuple[str, str]] = []  # (old var, alias)
        if has_agg:
            keys = [(e, a) for e, a in items if e[0] != "agg"]
            aggs = []
            pre_cols: list[tuple[str, Column]] = []
            for e, a in items:
                if e[0] != "agg":
                    continue
                fn, inner, distinct = e[1], e[2], e[3]
                if fn == "COUNT" and inner is None:
                    aggs.append(F.count(F.lit(1)).alias(a))
                    continue
                c = self._col(inner)
                if fn == "COUNT":
                    aggs.append((F.countDistinct(c) if distinct
                                 else F.count(c)).alias(a))
                elif fn == "COLLECT":
                    # openCypher collect(): null-skipping, unordered —
                    # sorted here so results are deterministic (the
                    # same canonicalization the reference's JSON
                    # serializer applies to set-valued results)
                    agg = F.collect_set(c) if distinct \
                        else F.collect_list(c)
                    aggs.append(F.sort_array(agg).alias(a))
                elif fn in ("STDEV", "STDEVP"):
                    f = F.stddev_samp if fn == "STDEV" else F.stddev_pop
                    # Neo4j returns 0 (not null) for stDev over zero
                    # rows / a single value (null-semantics review r06)
                    aggs.append(F.round(F.coalesce(
                        f(c.cast("double")), F.lit(0.0)), 6).alias(a))
                elif fn in ("PERCENTILECONT", "PERCENTILEDISC"):
                    pct = float(e[4])
                    cd = c.cast("double")
                    if fn == "PERCENTILECONT":
                        # exact linear-interpolated percentile (SQL
                        # percentile_cont) — a partial-aggregating
                        # JVM expression, no per-group collect
                        aggs.append(F.round(
                            F.percentile(cd, F.lit(pct)), 6).alias(a))
                    else:
                        # percentile_disc needs WITHIN GROUP syntax →
                        # pre-project the value to a named column
                        tmp = f"__pct_{len(pre_cols)}"
                        pre_cols.append((tmp, cd))
                        aggs.append(F.round(F.expr(
                            f"percentile_disc({pct}) WITHIN GROUP "
                            f"(ORDER BY {tmp})"), 6).alias(a))
                else:
                    f = {"SUM": F.sum, "AVG": F.avg,
                         "MIN": F.min, "MAX": F.max}[fn]
                    if fn == "SUM":
                        # openCypher: sum() of no values is 0, not
                        # null (null-semantics review r06); avg/min/
                        # max of no values stay null per the spec
                        aggs.append(F.round(F.coalesce(
                            F.sum(c.cast("double")), F.lit(0.0)), 6)
                            .alias(a))
                    elif fn == "AVG":
                        aggs.append(F.round(f(c.cast("double")), 6)
                                    .alias(a))
                    else:
                        # openCypher min/max are defined over strings
                        # and temporals too — the blanket double cast
                        # nulled every string value (review r06).
                        # Schema-registered props resolve typed via
                        # _prop, so dispatch on the RESOLVED type.
                        from pyspark.sql import types as T
                        dt = df.select(c).schema[0].dataType
                        if isinstance(dt, T.NumericType) or \
                                isinstance(dt, T.NullType):
                            aggs.append(F.round(f(c.cast("double")), 6)
                                        .alias(a))
                        else:
                            aggs.append(f(c).alias(a))
            for tmp, cc in pre_cols:
                df = df.withColumn(tmp, cc)
            df = df.groupBy(*[self._col(e).alias(a) for e, a in keys]) \
                .agg(*aggs) if keys else df.agg(*aggs)
            if p.is_with:
                carried_nodes = [(e[1], a) for e, a in keys
                                 if e[0] == "var" and e[1] in self._bound]
        else:
            cols = [self._col(e).alias(a) for e, a in items]
            if p.is_with:
                # a bare node var carried through WITH stays a node:
                # keep its hidden label/property columns under the
                # (possibly renamed) alias
                for e, a in items:
                    if e[0] != "var" or e[1] not in self._bound:
                        continue
                    v = e[1]
                    carried_nodes.append((v, a))
                    if f"__l_{v}" in df.columns:
                        cols.append(F.col(f"__l_{v}").alias(f"__l_{a}"))
                    if f"__p_{v}" in df.columns:
                        cols.append(F.col(f"__p_{v}").alias(f"__p_{a}"))
                    for prop in self._typed_cols.get(v, ()):
                        if f"__c_{v}_{prop}" in df.columns:
                            cols.append(F.col(f"__c_{v}_{prop}")
                                        .alias(f"__c_{a}_{prop}"))
            df = df.select(*cols)
        if p.distinct:
            # dedup on the VISIBLE columns only: carried node vars
            # drag hidden __p_* map columns along, and Spark forbids
            # map-typed columns in Deduplicate (review r06 — a legal
            # WITH DISTINCT n threw AnalysisException). The hidden
            # columns are 1:1 with the var's id, so visible-key dedup
            # is semantically identical.
            visible = [c for c in df.columns
                       if not c.startswith(("__p_", "__c_", "__l_"))]
            df = df.dropDuplicates(visible) if visible \
                else df.dropDuplicates()

        if p.order:
            out_names = {a for _, a in items}

            def ocol(expr) -> Column:
                if expr[0] == "var" and expr[1] in out_names:
                    return F.col(expr[1])
                if expr[0] == "prop" and f"{expr[1]}_{expr[2]}" in out_names:
                    return F.col(f"{expr[1]}_{expr[2]}")
                return self._col(expr)
            # openCypher null placement: nulls sort LAST ascending and
            # FIRST descending — Spark's asc()/desc() defaults are the
            # exact opposite (null-semantics review r06)
            df = df.orderBy(*[
                ocol(e).asc_nulls_last() if asc
                else ocol(e).desc_nulls_first()
                for e, asc in p.order])
        if p.skip:
            df = df.offset(p.skip)
        if p.limit is not None:
            df = df.limit(p.limit)

        if p.is_with:
            # reset the horizon: only projected columns survive
            new_typed: dict[str, set[str]] = {}
            new_labels: dict[str, str | None] = {}
            new_bound: set[str] = set()
            new_rel: set[str] = set()
            new_rel_labels: dict[str, str | None] = {}
            for v, a in carried_nodes:
                new_bound.add(a)
                new_labels[a] = self._labels.get(v)
                if v in self._rel_vars:
                    new_rel.add(a)
                    # carry the rel label under the alias; names NOT
                    # carried must be dropped, or a later MATCH that
                    # reuses the name gets schema-checked against the
                    # stale pre-WITH label
                    if v in self._rel_labels:
                        new_rel_labels[a] = self._rel_labels[v]
                if not has_agg and v in self._typed_cols:
                    new_typed[a] = self._typed_cols[v]
            self._typed_cols, self._labels = new_typed, new_labels
            self._bound, self._rel_vars = new_bound, new_rel
            self._rel_labels = new_rel_labels
            for cond in p.where:
                hv: set[str] = set()
                _cond_vars(cond, hv)
                df = self._hydrate(df, hv)
            df = self._apply_where(df, p.where)
        return df

    def run(self, query: str) -> DataFrame:
        return self.run_tokens(_tokenize(query))

    def run_tokens(self, toks: list[tuple[str, str]],
                   params: dict | None = None) -> DataFrame:
        q = _Parser(toks, params).parse()
        self._typed_cols = {}
        self._labels = {}
        self._bound = set()
        self._rel_vars = set()
        self._rel_labels = {}
        self._path_vars = set()
        self._created_vars = set()
        self._relgen = 0
        self._write_summary: DataFrame | None = None
        return self._run_clauses(None, q)

    def _run_clauses(self, df: DataFrame | None, q: _Query) -> DataFrame:
        for clause in q.clauses:
            if isinstance(clause, _MatchClause):
                df = self._apply_match(df, clause)
            elif isinstance(clause, _Unwind):
                df = self._apply_unwind(df, clause)
            elif isinstance(clause, _Create):
                df = self._apply_create(df, clause)
            elif isinstance(clause, _Merge):
                df = self._apply_merge(df, clause)
            elif isinstance(clause, _Set):
                df = self._apply_set(df, clause)
            elif isinstance(clause, _Delete):
                df = self._apply_delete(df, clause)
            elif isinstance(clause, _Remove):
                df = self._apply_remove(df, clause)
            elif isinstance(clause, _Foreach):
                df = self._apply_foreach(df, clause)
            elif isinstance(clause, _CallSub):
                df = self._apply_callsub(df, clause)
            else:
                df = self._apply_proj(df, clause)
        if q.final is None:
            # write query without RETURN → affected-element summary
            assert self._write_summary is not None
            return self._write_summary
        return self._apply_proj(df, q.final)

    def _apply_callsub(self, df: DataFrame | None,
                       cs: _CallSub) -> DataFrame:
        """CALL { } executes per input row; compiled DECORRELATED:
        the body runs ONCE over the distinct imported keys (the same
        rewrite Catalyst applies to correlated scalar subqueries),
        imported vars thread through every inner projection as
        implicit grouping keys (per-input-row aggregation scope), and
        the result inner-joins back on the keys — an input row whose
        subquery yields no rows emits nothing (openCypher), which is
        also why OPTIONAL-MATCH null imports drop out correctly.
        At scale: one distinct shuffle on the import key + the body's
        own plan + one join back; subquery work is proportional to
        DISTINCT keys, never outer multiplicity."""
        for v in cs.imports:
            if df is None or v not in self._bound:
                raise SyntaxError(
                    f"cypher: CALL imports unbound variable {v}")
        eng = CypherEngine(self.graph)
        eng._write_summary = None
        eng._bound = set(cs.imports)
        for v in cs.imports:
            if self._labels.get(v):
                eng._labels[v] = self._labels[v]
            if v in self._typed_cols:
                eng._typed_cols[v] = set(self._typed_cols[v])
        # thread the imports through every inner projection so
        # aggregates group per input key (per-row scope)
        for pr in [c for c in cs.query.clauses
                   if isinstance(c, _Proj)] + [cs.query.final]:
            existing = {a or _default_alias(e) for e, a in pr.items}
            for v in reversed(cs.imports):
                if v not in existing:
                    pr.items.insert(0, (("var", v), v))
        if cs.imports:
            hidden = [c for c in df.columns
                      if any(c in (f"__l_{v}", f"__p_{v}")
                             or c.startswith(f"__c_{v}_")
                             for v in cs.imports)]
            seed = (df.select(*cs.imports, *hidden)
                    .dropDuplicates(cs.imports))
            out = eng._run_clauses(seed, cs.query)
            # NULL-SAFE equi-join on the import keys: openCypher runs
            # the subquery WITH the null binding and keeps the row; a
            # plain inner join can never match a null key, so
            # OPTIONAL-MATCH-miss rows silently vanished
            # (null-semantics review r06). eqNullSafe keeps the inner
            # semantics for non-null keys bit-for-bit.
            shared = [c for c in out.columns if c in df.columns
                      and c not in cs.imports]
            out2 = out
            for c in shared:  # defensive: imports are the only
                out2 = out2.withColumnRenamed(c, f"__cs_{c}")  # overlap
            cond = None
            for v in cs.imports:
                eq = df[v].eqNullSafe(out2[v])
                cond = eq if cond is None else cond & eq
            joined = df.join(out2, on=cond, how="inner")
            # drop the subquery-side duplicate import columns
            for v in cs.imports:
                joined = joined.drop(out2[v])
            return joined
        out = eng._run_clauses(None, cs.query)
        return out if df is None else df.crossJoin(out)

    def _apply_unwind(self, df: DataFrame | None, u: _Unwind) -> DataFrame:
        """UNWIND list AS x — one output row per list element per
        incoming row (explode; openCypher drops rows whose list is
        empty or null, exactly explode's semantics)."""
        if df is None:
            df = self.graph.spark.range(1).select(
                F.lit(True).alias("__seed"))
            out = df.select(F.explode(self._col(u.expr)).alias(u.alias))
            return out
        needed: set[str] = set()
        _expr_vars(u.expr, needed)
        df = self._hydrate(df, needed)
        return df.select("*", F.explode(self._col(u.expr)).alias(u.alias))

    # ---- write clauses ----------------------------------------------
    #
    # The reference's Cypher surface accepts writes (its own API test
    # creates data this way — test/api/CypherApiTest.java:62
    # `CREATE (n:person {…}) return n`). Here they compile onto the
    # batch mutate surface (operators/mutate.py): CREATE/SET build a
    # batch and MERGE it (one shuffle on the id key), DELETE anti-joins
    # — the documented batch-transaction stance, not row-at-a-time.
    # Mutations rebind graph.vertices/graph.edges on the PropertyGraph
    # handed in and refresh affected typed views; readers holding the
    # old DataFrames keep the old snapshot (plans are immutable).

    def _gen_id(self, label: str, props: dict) -> str:
        from incubator_hugegraph_spark.operators.mutate import (
            gen_vertex_id)
        return gen_vertex_id(self.graph.schema, label, props,
                             graph=self.graph)

    def _check_write_props(self, label: str | None, props) -> None:
        """Schema-strict writes: the reference rejects a property key
        the element's label doesn't declare (VertexLabel property
        checks in GraphTransaction); without this, an undeclared prop
        would land in the map but never surface through the typed
        views — a silent write."""
        sch = self.graph.schema
        if sch is None or label is None:
            return
        vl = sch.vertex_labels.get(label)
        if vl is None or not vl.properties:
            return
        for k in props:
            if k not in vl.properties:
                raise ValueError(
                    f"cypher: property {k!r} is not declared for vertex "
                    f"label {label!r}")

    def _pk_props(self, var: str) -> set[str]:
        """Primary-key property names of the var's statically-known
        label (empty when the label or schema is unknown)."""
        lab = self._labels.get(var)
        vl = self.graph.schema.vertex_labels.get(lab) \
            if (self.graph.schema and lab) else None
        return set(getattr(vl, "primary_keys", ()) or ()) if vl else set()

    def _pk_risk_labels(self, var: str, prop: str) -> frozenset | None:
        """For a var with NO statically-known label: the schema labels
        that declare `prop` as a primary key (None when the label is
        known, or no label pk's the prop — i.e. no runtime check
        needed). The unknown-label pk guard (code review r06)."""
        if self._labels.get(var) is not None or self.graph.schema is None:
            return None
        risk = frozenset(
            name for name, vl in self.graph.schema.vertex_labels.items()
            if prop in (getattr(vl, "primary_keys", ()) or ()))
        return risk or None

    def _guard_pk_write(self, var: str, props) -> None:
        """Raise for pk REMOVALS (SET pk = null / REMOVE n.pk) — the
        pk is spliced into the vertex id, so deleting it breaks the
        element's identity (reference GraphTransaction.java:1154
        "Can't update primary key"). Value-writes are validated as
        no-op re-statements instead (pk_checks in _apply_set)."""
        pks = self._pk_props(var)
        hit = [p for p in props if p in pks]
        if hit:
            raise ValueError(
                f"cypher: Can't update primary key {hit[0]!r} of vertex "
                f"label {self._labels.get(var)!r} (reference "
                "GraphTransaction.java:1154)")

    def _check_edge_write_props(self, label: str | None, props) -> None:
        """Edge twin of _check_write_props (EdgeLabel property checks
        in GraphTransaction). Sort keys are part of the edge's
        identity, not settable properties."""
        sch = self.graph.schema
        if sch is None or label is None:
            return
        el = sch.edge_labels.get(label)
        if el is None or not getattr(el, "properties", None):
            return
        sk = set(getattr(el, "sort_keys", ()) or ())
        for k in props:
            if k in sk:
                raise ValueError(
                    f"cypher: sort key {k!r} of edge label {label!r} "
                    "is immutable (part of the edge id)")
            if k not in el.properties:
                raise ValueError(
                    f"cypher: property {k!r} is not declared for edge "
                    f"label {label!r}")

    def _refresh_views(self, labels: set[str] | None = None) -> None:
        self.graph.refresh_vertex_views(labels)

    def _apply_create(self, df: DataFrame | None, c: _Create) -> DataFrame:
        from incubator_hugegraph_spark.operators.mutate import (
            _edge_key, upsert_edges, upsert_vertices)
        g = self.graph
        spark = g.spark
        sch = g.schema

        # new nodes (vars not already matched) — property maps are
        # literal by grammar, so per-row creation after a MATCH
        # collapses to one deterministic element per var
        new_nodes: dict[str, tuple[str, str, dict]] = {}
        for var, label in c.nodes.items():
            if df is not None and var in self._bound:
                continue
            if label is None:
                raise SyntaxError(
                    f"cypher: CREATE node {var} needs a label")
            # a null map value in CREATE means property-ABSENT
            # (openCypher) — str(None) wrote the literal "None"
            # (review r06)
            props = {k: str(v) for k, v in c.props.get(var, {}).items()
                     if v is not None}
            self._check_write_props(label, props)
            new_nodes[var] = (self._gen_id(label, props), label, props)

        vschema = ("id string, label string, props map<string,string>, "
                   "expired_at timestamp")
        if new_nodes:
            seen: dict[str, tuple] = {}
            for vid, label, props in new_nodes.values():
                seen[vid] = (vid, label, props, None)
            vbatch = spark.createDataFrame(list(seen.values()), vschema)
            g.vertices = upsert_vertices(g.vertices, vbatch)
            self._refresh_views({lab for _, lab, _p in new_nodes.values()})

        def endpoint(v: str) -> Column:
            if v in new_nodes:
                return F.lit(new_nodes[v][0])
            if df is not None and v in df.columns:
                return F.col(v)
            raise SyntaxError(f"cypher: CREATE endpoint {v} is unbound")

        ebatches: list[DataFrame] = []
        rel_binds: list[tuple] = []  # (var, eid Column, label)
        base = df if df is not None else spark.range(1)
        for rel, rp in zip(c.rels, c.rel_props):
            el = sch.edge_labels.get(rel.label) if sch else None
            sv = ""
            if el is not None and el.sort_keys \
                    and all(k in rp for k in el.sort_keys):
                from incubator_hugegraph_spark.functions.ids import (
                    encode_sort_values)
                sv = encode_sort_values(rp[k] for k in el.sort_keys)
            s, d = (rel.src, rel.dst) if rel.direction == "OUT" \
                else (rel.dst, rel.src)
            kvs = []
            for k, v in rp.items():
                if v is None:  # null → property-absent (openCypher)
                    continue
                kvs += [F.lit(k), F.lit(str(v))]
            pm = F.create_map(*kvs) if kvs \
                else F.create_map().cast("map<string,string>")
            # a null endpoint (OPTIONAL MATCH miss) must ERROR like
            # Neo4j, not write an edge with null src/dst — one eager
            # driver probe per CREATE statement (null-semantics
            # review r06; writes already pay eager probes)
            ep_cols = [v for v in (s, d)
                       if df is not None and v in df.columns]
            if ep_cols and base.where(reduce(
                    lambda a, b: a | b,
                    [F.col(v).isNull() for v in ep_cols])).head(1):
                raise ValueError(
                    "cypher: cannot create a relationship with a "
                    "null node")
            ebatches.append(base.select(
                endpoint(s).alias("src"), endpoint(d).alias("dst"),
                F.lit(rel.label).alias("label"),
                F.lit(sv).alias("sort_values"), pm.alias("props"),
                F.lit(None).cast("timestamp").alias("expired_at"))
                .dropDuplicates(["src", "dst", "label", "sort_values"]))
            if sch is not None:
                g.edge_views.pop(rel.label, None)  # stale typed view
            # bind the created rel's variable (-[r:label]->) so later
            # clauses (RETURN r, RETURN r.p, SET r.p) can address the
            # edge — the EdgeId splice AND the literal property map
            # are fully determined at create time
            if rel.var:
                # reuse check must see vars bound EARLIER IN THIS SAME
                # CREATE pattern too (self._bound is only updated in
                # the rel_binds loop below) — otherwise
                # (a)-[r:x]->(b)-[r:y]->(c) slips through and dies
                # later with AMBIGUOUS_REFERENCE instead of this error
                if rel.var in self._bound or \
                        any(rel.var == v for v, *_ in rel_binds):
                    raise SyntaxError(
                        f"cypher: CREATE cannot reuse the bound "
                        f"variable {rel.var!r} for a new relationship")
                self._rel_vars.add(rel.var)
                self._rel_labels.setdefault(rel.var, rel.label)
                rel_binds.append((rel.var, F.concat_ws(
                    ">", endpoint(s), F.lit(rel.label), F.lit(sv),
                    endpoint(d)), rel.label, pm))
        if ebatches:
            ebatch = reduce(lambda a, b: a.unionByName(b), ebatches)
            g.edges = upsert_edges(g.edges, ebatch)

        # bind created vars for RETURN
        newcols = []
        for var, (vid, label, props) in new_nodes.items():
            kvs = []
            for k, v in props.items():
                kvs += [F.lit(k), F.lit(v)]
            pm = F.create_map(*kvs) if kvs \
                else F.create_map().cast("map<string,string>")
            newcols += [F.lit(vid).alias(var),
                        F.lit(label).alias(f"__l_{var}"),
                        pm.alias(f"__p_{var}")]
            self._labels[var] = label
        for var, eid, label, pm in rel_binds:
            newcols += [eid.alias(var), F.lit(label).alias(f"__l_{var}"),
                        pm.alias(f"__p_{var}")]
            self._bound.add(var)
        if newcols:
            df = base.select(*newcols) if df is None \
                else df.select("*", *newcols)
        elif df is None:
            df = base
        self._bound |= set(new_nodes)
        self._created_vars |= set(new_nodes)

        rows = [(vid, lab) for vid, lab, _p in new_nodes.values()]
        summary = spark.createDataFrame(
            rows or [(None, None)], "id string, label string").dropna()
        if ebatches:
            # created relationships count as writes too (review r06:
            # an edge-only CREATE without RETURN reported an EMPTY
            # summary despite having inserted edges; the MERGE rel
            # branch already reports them)
            ekeys = reduce(lambda a, b: a.unionByName(b), [
                b.select(_edge_key(b).alias("id"), F.col("label"))
                for b in ebatches]) \
                .dropDuplicates(["id"])
            summary = summary.unionByName(ekeys)
        self._write_summary = summary
        return df

    def _apply_merge(self, df: DataFrame | None, m: _Merge) -> DataFrame:
        """MERGE — match the whole pattern or create it.

        Two batch-friendly shapes (the forms real MERGE statements
        overwhelmingly take; anything else raises):

        - node merge: ``MERGE (n:label {literal props})`` with ``n``
          unbound — one existence probe (a limit(1) metadata action,
          the statement-level analogue of the reference's per-element
          GraphTransaction existence check), then either binds every
          matching vertex (openCypher row semantics) + ON MATCH SET,
          or creates the node + ON CREATE SET.
        - relationship merge: ``MERGE (a)-[:rel]->(b)`` with both
          endpoints bound by a preceding MATCH — inserts exactly the
          missing edges (anti-join against the edge table); matched
          edges are left untouched (MERGE never modifies matched
          elements outside ON MATCH SET).
        """
        c = m.create
        g = self.graph
        unbound = [v for v in c.nodes if v not in self._bound]

        if not c.rels and len(c.nodes) == 1 and unbound:
            var = unbound[0]
            label = c.nodes[var]
            if label is None:
                raise SyntaxError(f"cypher: MERGE node {var} needs a label")
            props = c.props.get(var, {})
            if any(v is None for v in props.values()):
                # Neo4j: "Cannot merge using null property value"
                raise ValueError(
                    "cypher: cannot MERGE using a null property value")
            probe = g.vertices.filter(F.col("label") == label)
            for k, v in props.items():
                probe = probe.filter(F.col("props")[k] == str(v))
            if probe.limit(1).count() > 0:  # match branch
                mc = _MatchClause()
                mc.nodes[var] = label
                for k, v in props.items():
                    mc.where.append(
                        ("cmp", "=", ("prop", var, k), ("lit", v)))
                df = self._apply_match(df, mc)
                ids = df.select(F.col(var).alias("id"),
                                F.col(f"__l_{var}").alias("label")) \
                    .distinct()
                self._write_summary = ids
                if m.on_match is not None:
                    df = self._apply_set(df, m.on_match)
                return df
            df = self._apply_create(df, c)  # create branch
            if m.on_create is not None:
                df = self._apply_set(df, m.on_create)
            return df

        if c.rels and not unbound and df is not None:
            from incubator_hugegraph_spark.operators.mutate import (
                _edge_key, upsert_edges)
            created = []
            rel_missing = []
            for rel, rp in zip(c.rels, c.rel_props):
                s, d = (rel.src, rel.dst) if rel.direction == "OUT" \
                    else (rel.dst, rel.src)
                if any(v is None for v in rp.values()):
                    raise ValueError(
                        "cypher: cannot MERGE using a null property "
                        "value")
                kvs = []
                for k, v in rp.items():
                    kvs += [F.lit(k), F.lit(str(v))]
                pm = F.create_map(*kvs) if kvs \
                    else F.create_map().cast("map<string,string>")
                if df.where(F.col(s).isNull()
                            | F.col(d).isNull()).head(1):
                    raise ValueError(
                        "cypher: cannot MERGE a relationship with a "
                        "null node")
                want = (df.select(
                    F.col(s).alias("src"), F.col(d).alias("dst"),
                    F.lit(rel.label).alias("label"),
                    F.lit("").alias("sort_values"), pm.alias("props"),
                    F.lit(None).cast("timestamp").alias("expired_at"))
                    .dropDuplicates(["src", "dst"]))
                missing = want.join(
                    g.edges.filter(F.col("label") == rel.label)
                    .select("src", "dst"),
                    on=["src", "dst"], how="left_anti")
                g.edges = upsert_edges(g.edges, missing)
                g.edge_views.pop(rel.label, None)
                # the stored EdgeId (sort_values "" keeps its field)
                created.append(missing.select(
                    _edge_key(missing).alias("id"),
                    F.lit("edge").alias("label")))
                # bind the rel variable (all pattern edges now exist,
                # matched or created, with sort_values "") so ON
                # CREATE/ON MATCH SET — and any later clause — can
                # address the relationship. ONLY sound for labels
                # without sort keys: a matched edge of a sort-keyed
                # label carries a non-empty sort_values that (src,dst)
                # alone cannot reconstruct, and a hard-coded "" would
                # make later SETs silently miss it — leave the var
                # unbound there so misuse fails loudly instead
                el = g.schema.edge_labels.get(rel.label) \
                    if g.schema else None
                sort_keyed = bool(getattr(el, "sort_keys", ()) or ())
                if rel.var and not sort_keyed:
                    self._bound.add(rel.var)
                    self._rel_vars.add(rel.var)
                    self._rel_labels.setdefault(rel.var, rel.label)
                    df = (df.withColumn(rel.var, F.concat_ws(
                        ">", F.col(s), F.lit(rel.label), F.lit(""),
                        F.col(d)))
                        .withColumn(f"__l_{rel.var}",
                                    F.lit(rel.label)))
                rel_missing.append((rel, s, d, missing, sort_keyed))
            self._write_summary = reduce(
                lambda a, b: a.unionByName(b), created)
            if m.on_create is not None or m.on_match is not None:
                # split the pattern rows into created vs pre-existing
                # edges and run each branch's SET on its subset (the
                # openCypher contract); single-rel merges only — a
                # multi-rel MERGE has no well-defined per-branch split
                if len(rel_missing) != 1:
                    raise SyntaxError(
                        "cypher: ON CREATE/ON MATCH SET needs a "
                        "single-relationship MERGE pattern")
                rel, s, d, missing, sort_keyed = rel_missing[0]
                branch_vars: set[str] = set()
                for branch in (m.on_create, m.on_match):
                    if branch is None:
                        continue
                    for v, _p, _e in branch.assignments:
                        branch_vars.add(v)
                    for v, _pl, _en in branch.map_assignments:
                        branch_vars.add(v)
                if sort_keyed and rel.var in branch_vars:
                    # only when a branch actually WRITES the rel —
                    # node-only ON SET is fine on sort-keyed labels
                    raise SyntaxError(
                        "cypher: ON CREATE/ON MATCH SET on a "
                        "relationship whose label declares sort keys "
                        "is not supported — the (src,dst) merge probe "
                        "cannot identify which sort-keyed edge matched")
                key = missing.select(F.col("src").alias("__ms"),
                                     F.col("dst").alias("__md"))
                on = (F.col(s) == F.col("__ms")) \
                    & (F.col(d) == F.col("__md"))
                if m.on_create is not None:
                    sub = df.join(key, on=on, how="left_semi")
                    self._apply_set(sub, m.on_create)
                if m.on_match is not None:
                    sub = df.join(key, on=on, how="left_anti")
                    self._apply_set(sub, m.on_match)
                # the branch SETs ran on throwaway subsets: their
                # stale-column drops never reached THIS df, so strip
                # every written node var's snapshot columns here or a
                # later RETURN reads pre-SET values
                written: set[str] = set()
                for branch in (m.on_create, m.on_match):
                    if branch is None:
                        continue
                    for v, _p, _e in branch.assignments:
                        written.add(v)
                    for v, _pl, _en in branch.map_assignments:
                        written.add(v)
                for v in written:
                    if v in self._rel_vars:
                        continue
                    # enumerate stale columns by PREFIX SCAN of the
                    # outer df — the inner _apply_set already popped
                    # _typed_cols[v], so relying on it here would
                    # leave __c_<v>_* behind and the re-hydration
                    # would duplicate them (AMBIGUOUS_REFERENCE)
                    self._typed_cols.pop(v, None)
                    stale = [c for c in df.columns
                             if c in (f"__p_{v}", f"__l_{v}")
                             or c.startswith(f"__c_{v}_")]
                    df = df.drop(*stale)
            return df

        raise SyntaxError(
            "cypher: unsupported MERGE shape — use a single unbound "
            "labeled node, or a relationship between bound vars")

    def _apply_foreach(self, df: DataFrame | None,
                       fe: _Foreach) -> DataFrame:
        """FOREACH (x IN list | SET …): explode the list expression to
        a distinct id set, hydrate labels/props from the vertex table,
        and run the body's SET batches against it. The outer row
        stream passes through unchanged (openCypher FOREACH has no
        projection effect) — one explode + one 1:1 vertex join per
        FOREACH, then the same batch upsert as a plain SET."""
        if df is None:
            raise SyntaxError("cypher: FOREACH requires a preceding "
                              "MATCH")
        g = self.graph
        ids = df.select(
            F.explode(self._col(fe.src)).alias(fe.var)).distinct()
        v = g.vertices.select(
            F.col("id").alias(fe.var),
            F.col("label").alias(f"__l_{fe.var}"),
            F.col("props").alias(f"__p_{fe.var}"))
        sub = ids.join(v, on=fe.var)
        had_label = fe.var in self._labels
        self._labels.setdefault(fe.var, None)
        self._bound.add(fe.var)
        try:
            for s in fe.sets:
                sub = self._apply_set(sub, s)
        finally:
            self._bound.discard(fe.var)
            if not had_label:
                self._labels.pop(fe.var, None)
        return df

    def _apply_set(self, df: DataFrame | None, s: _Set) -> DataFrame:
        from collections import defaultdict

        from incubator_hugegraph_spark.operators.mutate import (
            upsert_vertices)
        if df is None:
            raise SyntaxError("cypher: SET requires a preceding MATCH")
        by_var: dict[str, list] = defaultdict(list)
        removals: dict[str, list] = defaultdict(list)
        rel_sets: dict[str, list] = defaultdict(list)
        rel_strips: dict[str, list] = defaultdict(list)
        # pk_checks: (var, prop, expr, risk_labels|None) — validated
        # post-hydrate as no-op re-statements; risk_labels restricts
        # the check to rows of labels that declare prop as pk (the
        # unknown-label case: unlabeled MATCH vars, FOREACH element
        # vars — code review r06 found the static guard was bypassed
        # there entirely)
        pk_checks: list[tuple[str, str, tuple, frozenset | None]] = []
        # (var, prop, risk_labels): pk REMOVALS on unknown-label vars,
        # probed post-hydrate — raise if any matched row's label
        # declares prop as pk
        pk_strip_probes: list[tuple[str, str, frozenset]] = []
        for var, prop, expr in s.assignments:
            if var in self._rel_vars:
                rel_sets[var].append((prop, expr))
                continue
            if prop in self._pk_props(var):
                # pk writes: only a no-op re-statement is legal — the
                # value is validated against the pre-write state below
                # and the entry dropped from the write (the pk is
                # encoded in the id; reference GraphTransaction.java
                # :1154 "Can't update primary key")
                pk_checks.append((var, prop, expr, None))
                continue
            risk = self._pk_risk_labels(var, prop)
            if risk:
                # label not statically known but SOME label pk's this
                # prop: validate those rows as no-op re-statements;
                # the write still applies (for pk-labeled rows the
                # validated value equals the pre-state — harmless)
                pk_checks.append((var, prop, expr, risk))
            by_var[var].append((prop, expr))
        for var, plus, entries in s.map_assignments:
            if var in self._rel_vars:
                null_keys = [k for k, e in entries
                             if e[0] == "lit" and e[1] is None]
                pairs = [(k, e) for k, e in entries
                         if not (e[0] == "lit" and e[1] is None)]
                if not plus:
                    el = self.graph.schema.edge_labels.get(
                        self._rel_labels.get(var)) \
                        if self.graph.schema else None
                    if el is None or not el.properties:
                        raise SyntaxError(
                            "cypher: SET r = {map} (replace) needs a "
                            "schema-registered relationship label")
                    null_keys = [k for k in el.properties
                                 if k not in
                                 set(getattr(el, "sort_keys", ()) or ())]
                rel_strips[var].extend(null_keys)
                rel_sets[var].extend(pairs)
                continue
            self._check_write_props(self._labels.get(var),
                                    [k for k, _e in entries])
            null_keys = [k for k, e in entries
                         if e[0] == "lit" and e[1] is None]
            set_pairs = [(k, e) for k, e in entries
                         if not (e[0] == "lit" and e[1] is None)]
            if plus:
                # SET n += {…}: merge; NULL values remove those keys.
                # A pk key with a value is validated as a no-op
                # re-statement (like the replace form); a null pk is a
                # pk REMOVAL and always raises (runtime-probed when
                # the label isn't statically known).
                pks = self._pk_props(var)
                self._guard_pk_write(var, [k for k in null_keys
                                           if k in pks])
                pk_checks.extend((var, k, e, None) for k, e in set_pairs
                                 if k in pks)
                set_pairs = [(k, e) for k, e in set_pairs
                             if k not in pks]
                if self._labels.get(var) is None:
                    pk_checks.extend(
                        (var, k, e, r) for k, e in set_pairs
                        for r in [self._pk_risk_labels(var, k)] if r)
                    pk_strip_probes.extend(
                        (var, k, r) for k in null_keys
                        for r in [self._pk_risk_labels(var, k)] if r)
                removals[var].extend(null_keys)
            else:
                # SET n = {…}: replace the whole map — strip every
                # declared NON-primary-key property first, then write
                # the new entries (writes are schema-strict, so
                # declared = present). Primary keys are part of the
                # element's identity (encoded in the spliced id), so
                # the replace never strips them (reference
                # GraphTransaction.java:1154 "Can't update primary
                # key"); a map entry that re-states a pk is validated
                # against the pre-write value and dropped from the
                # write, and one that CHANGES a pk raises.
                lab = self._labels.get(var)
                vl = self.graph.schema.vertex_labels.get(lab) \
                    if (self.graph.schema and lab) else None
                if vl is None or not vl.properties:
                    raise SyntaxError(
                        "cypher: SET n = {map} (replace) needs a "
                        "schema-registered node label")
                pks = self._pk_props(var)
                self._guard_pk_write(var, [k for k in null_keys
                                           if k in pks])
                removals[var].extend(
                    [p for p in vl.properties if p not in pks])
                pk_checks.extend((var, k, e, None) for k, e in set_pairs
                                 if k in pks)
                # pk-only restatement leaves an empty removals entry:
                # the removal-only pass below still emits the write
                # summary + view refresh for the (no-op) statement
                set_pairs = [(k, e) for k, e in set_pairs
                             if k not in pks]
            if set_pairs:  # empty map replace is a removal-only write
                by_var[var].extend(set_pairs)
        # hydrate BEFORE stripping: every SET right-hand side must
        # read the PRE-write state (openCypher snapshot semantics) —
        # _node_df reads the live vertex table, so hydrating after the
        # removal pass would evaluate self-referencing values like
        # SET n = {name: n.name} against the already-stripped map and
        # destroy the data it was meant to carry over
        needed = set(by_var) | set(removals) \
            | {v for v, _p, _e, _r in pk_checks} \
            | {v for v, _p, _r in pk_strip_probes}
        for _var, _prop, expr in s.assignments:
            _expr_vars(expr, needed)
        for _var, _plus, entries in s.map_assignments:
            for _k, expr in entries:
                _expr_vars(expr, needed)
        df = self._hydrate(df, needed)
        # pk re-statements: allowed only when the value equals the
        # pre-write pk for EVERY matched row (the pk is encoded in
        # the spliced id, so "equal to pre-state" is "equal to the
        # id"); anything else is a pk update → forbidden
        # (GraphTransaction.java:1154). When the var's label isn't
        # statically known, `risk` restricts the check to rows whose
        # HYDRATED label declares prop as pk. Eager probes — rare
        # path.
        for var, prop, expr, risk in pk_checks:
            cond = ~self._col(expr).cast("string").eqNullSafe(
                self._col(("prop", var, prop)).cast("string"))
            if risk is not None:
                cond = cond & F.col(f"__l_{var}").isin(sorted(risk))
            if df.filter(cond).limit(1).count():
                raise ValueError(
                    f"cypher: Can't update primary key '{prop}' — a "
                    "SET may only re-state the existing pk value "
                    "(GraphTransaction.java:1154)")
        for var, prop, risk in pk_strip_probes:
            hit = df.filter(F.col(f"__l_{var}").isin(sorted(risk))) \
                .limit(1).count()
            if hit:
                raise ValueError(
                    f"cypher: Can't update primary key '{prop}' — "
                    "removing a pk property breaks the element's "
                    "identity (GraphTransaction.java:1154)")
        # strip removed keys (same map_filter pass as REMOVE), so a
        # replace's upsert merge starts from an empty slate
        for var, keys in removals.items():
            if not keys:
                continue
            rm_ids = (df.filter(F.col(var).isNotNull())
                      .select(F.col(var).alias("__rm_id")).distinct())
            kset = list(dict.fromkeys(keys))
            self.graph.vertices = (
                self.graph.vertices
                .join(rm_ids, F.col("id") == F.col("__rm_id"), "left")
                .withColumn(
                    "props",
                    F.when(F.col("__rm_id").isNotNull(),
                           F.map_filter("props",
                                        lambda k, _v: ~k.isin(*kset)))
                    .otherwise(F.col("props")))
                .drop("__rm_id"))
        # removal-only vars (e.g. SET n += {x: null}) never reach the
        # upsert loop below — refresh their views and summarize here
        deltas = []
        for var in [v for v in removals if v not in by_var]:
            stale = [f"__p_{var}", f"__l_{var}"] + \
                [f"__c_{var}_{k}" for k in self._typed_cols.pop(var, ())]
            df = df.drop(*[c for c in stale if c in df.columns])
            lab = self._labels.get(var)
            self._refresh_views({lab} if lab else None)
            deltas.append(df.select(
                F.col(var).alias("id"),
                F.lit(lab).alias("label")).dropDuplicates(["id"]))
        for var, pairs in by_var.items():
            self._check_write_props(self._labels.get(var),
                                    [p for p, _e in pairs])
            kvs = []
            for prop, expr in pairs:
                kvs += [F.lit(prop), self._col(expr).cast("string")]
            # one write per id — last-write-wins across pattern rows.
            # SET on a NULL var (an OPTIONAL MATCH miss) is silently
            # skipped per openCypher — without the filter a phantom
            # null-id vertex row was inserted (null-semantics review
            # r06)
            delta_all = (df.filter(F.col(var).isNotNull())
                         .select(F.col(var).alias("id"),
                                 F.col(f"__l_{var}").alias("label"),
                                 F.create_map(*kvs).alias("__m"))
                         .dropDuplicates(["id"]))
            # SET n.p = <null expr> REMOVES p (openCypher null-write
            # semantics — the rel path already did this; the node
            # upsert's coalesce(new, old) silently kept the old
            # value): strip each row's null-valued keys from the
            # canonical map first, then upsert only non-null entries
            strip = delta_all.select(
                F.col("id").alias("__rm_id"),
                F.map_keys(F.map_filter(
                    "__m", lambda _k, v: v.isNull()))
                .alias("__nullkeys"))
            self.graph.vertices = (
                self.graph.vertices
                .join(strip, F.col("id") == F.col("__rm_id"), "left")
                .withColumn(
                    "props",
                    F.when(F.col("__rm_id").isNotNull(),
                           F.map_filter(
                               "props",
                               lambda k, _v: ~F.coalesce(
                                   F.array_contains("__nullkeys", k),
                                   F.lit(False))))
                    .otherwise(F.col("props")))
                .drop("__rm_id", "__nullkeys"))
            delta = delta_all.select(
                "id", "label",
                F.map_filter("__m", lambda _k, v: v.isNotNull())
                .alias("props"),
                F.lit(None).cast("timestamp").alias("expired_at"))
            self.graph.vertices = upsert_vertices(self.graph.vertices,
                                                  delta)
            deltas.append(delta.select("id", "label"))
            # drop stale projected property columns so later reads
            # re-hydrate from the updated table
            stale = [f"__p_{var}", f"__l_{var}"] + \
                [f"__c_{var}_{k}" for k in self._typed_cols.pop(var, ())]
            df = df.drop(*[col for col in stale if col in df.columns])
            # a created var loses its inline serialization columns too —
            # it reads like any matched var from here (re-hydrated on
            # property access)
            self._created_vars.discard(var)
            lab = self._labels.get(var)
            self._refresh_views({lab} if lab else None)
        deltas.extend(self._apply_rel_writes(df, rel_sets, rel_strips))
        if not deltas:
            # a SET reduced to a validated pk no-op (e.g. ON MATCH SET
            # n.pk = <same value>) touches nothing — empty summary
            deltas = [self.graph.spark.createDataFrame(
                [], "id string, label string")]
        self._write_summary = reduce(lambda a, b: a.unionByName(b), deltas)
        return df

    def _apply_rel_writes(self, df: DataFrame,
                          rel_sets: dict[str, list],
                          rel_strips: dict[str, list]) -> list:
        """SET on relationship variables: one narrow map rewrite of the
        canonical edge table keyed by the EdgeId splice the rel var
        already carries — assigned keys are stripped first, then the
        delta's NON-NULL values are merged back, so `SET r.p = null`
        (and `+= {p: null}`) removes p whether the null is literal or
        computed (openCypher null-write semantics). The rel var's
        inline pattern columns keep the pre-write snapshot (plans are
        immutable; rel columns travel with the pattern and have no
        re-hydration path — same documented snapshot stance as every
        other write surface). Typed edge views are re-derived."""
        out = []
        for var in sorted(set(rel_sets) | set(rel_strips)):
            pairs = rel_sets.get(var, [])
            strips = rel_strips.get(var, [])
            label = self._rel_labels.get(var)
            self._check_edge_write_props(
                label, [p for p, _e in pairs] + strips)
            keys = list(dict.fromkeys([p for p, _e in pairs] + strips))
            kvs = []
            for prop, expr in pairs:
                kvs += [F.lit(prop), self._col(expr).cast("string")]
            newmap = F.create_map(*kvs) if kvs \
                else F.create_map().cast("map<string,string>")
            # an aggregating WITH keeps only the var column itself —
            # fall back to the statically-tracked label (or parse it
            # out of the EdgeId splice) when __l_<var> was projected
            # away
            if f"__l_{var}" in df.columns:
                lcol = F.col(f"__l_{var}")
            elif label is not None:
                lcol = F.lit(label)
            else:
                # escape-aware EdgeId parse: the label is the second
                # '>'-delimited field, but src may contain escaped
                # '\>' / '\!' sequences (functions/ids.py _escape) —
                # skip over '\\.' pairs instead of splitting blindly.
                lcol = F.regexp_extract(
                    F.col(var),
                    r"^(?:[^\\>]|\\.)*>((?:[^\\>]|\\.)*)>", 1)
            delta = (df.filter(F.col(var).isNotNull())
                     .select(F.col(var).alias("__ek"),
                             newmap.alias("__newp"),
                             lcol.alias("__el"))
                     .dropDuplicates(["__ek"]))
            g = self.graph
            g.edges = (
                g.edges
                .withColumn("__ek", F.concat_ws(
                    ">", "src", "label", "sort_values", "dst"))
                .join(delta.select("__ek", "__newp"), on="__ek",
                      how="left")
                .withColumn(
                    "props",
                    F.when(F.col("__newp").isNotNull(), F.map_concat(
                        F.map_filter("props",
                                     lambda k, _v: ~k.isin(*keys)),
                        F.map_filter("__newp",
                                     lambda _k, v: v.isNotNull())))
                    .otherwise(F.col("props")))
                .drop("__ek", "__newp"))
            g.refresh_edge_views({label} if label else None)
            out.append(delta.select(F.col("__ek").alias("id"),
                                    F.col("__el").alias("label")))
        return out

    def _apply_remove(self, df: DataFrame | None, r: _Remove) -> DataFrame:
        """REMOVE n.prop — strip keys from the canonical props map of
        the matched ids (one semi-identified map_filter pass over the
        vertex table per var; no upsert round-trip, because the merge
        surface can only ADD keys)."""
        from collections import defaultdict
        if df is None:
            raise SyntaxError("cypher: REMOVE requires a preceding MATCH")
        g = self.graph
        by_var: dict[str, list] = defaultdict(list)
        rel_strips: dict[str, list] = defaultdict(list)
        for var, prop in r.items:
            if var in self._rel_vars:
                rel_strips[var].append(prop)
                continue
            # REMOVE n.pk deletes part of the element's identity —
            # always forbidden (same guard as SET pk = null); when the
            # label isn't statically known, probe the matched rows'
            # actual labels against the labels that pk this prop
            self._guard_pk_write(var, [prop])
            risk = self._pk_risk_labels(var, prop)
            if risk:
                ids = df.select(F.col(var).alias("__pid")).distinct()
                hit = (g.vertices
                       .join(ids, F.col("id") == F.col("__pid"),
                             "leftsemi")
                       .filter(F.col("label").isin(sorted(risk)))
                       .limit(1).count())
                if hit:
                    raise ValueError(
                        f"cypher: Can't update primary key {prop!r} — "
                        "REMOVE on a pk property breaks the element's "
                        "identity (GraphTransaction.java:1154)")
            by_var[var].append(prop)
        summaries = []
        if rel_strips:
            summaries.extend(self._apply_rel_writes(df, {}, rel_strips))
        for var, props in by_var.items():
            ids = df.select(F.col(var).alias("__rm_id")).distinct()
            g.vertices = (
                g.vertices
                .join(ids, F.col("id") == F.col("__rm_id"), "left")
                .withColumn(
                    "props",
                    F.when(F.col("__rm_id").isNotNull(),
                           F.map_filter(
                               "props",
                               lambda k, _v: ~k.isin(*props)))
                    .otherwise(F.col("props")))
                .drop("__rm_id"))
            stale = [f"__p_{var}"] + \
                [f"__c_{var}_{k}" for k in self._typed_cols.pop(var, ())]
            df = df.drop(*[c for c in stale if c in df.columns])
            lab = self._labels.get(var)
            self._refresh_views({lab} if lab else None)
            summaries.append(ids.select(
                F.col("__rm_id").alias("id"),
                F.lit(self._labels.get(var)).alias("label")))
        self._write_summary = reduce(lambda a, b: a.unionByName(b),
                                     summaries)
        return df

    def _apply_delete(self, df: DataFrame | None, d: _Delete) -> DataFrame:
        if df is None:
            raise SyntaxError("cypher: DELETE requires a preceding MATCH")
        g = self.graph
        summaries = []
        for var in d.vars:
            if var in self._rel_vars:
                keys = df.select(F.col(var).alias("__k")).distinct()
                cur = g.edges.withColumn(
                    "__k", F.concat_ws(">", "src", "label", "sort_values",
                                       "dst"))
                g.edges = cur.join(keys, on="__k", how="left_anti") \
                    .drop("__k")
                g.refresh_edge_views()  # typed edge views are stale
                summaries.append(keys.select(F.col("__k").alias("id"),
                                             F.lit("edge").alias("label")))
                continue
            ids = df.select(F.col(var).alias("id")).distinct()
            if not d.detach:
                n = (g.edges.select("src", "dst")
                     .join(F.broadcast(ids),
                           (F.col("src") == F.col("id"))
                           | (F.col("dst") == F.col("id")),
                           "left_semi")).count()
                if n:
                    raise ValueError(
                        f"cypher: cannot DELETE {var} — {n} incident "
                        "relationships (use DETACH DELETE)")
            else:
                g.edges = (g.edges
                           .join(ids.withColumnRenamed("id", "src"),
                                 on="src", how="left_anti")
                           .join(ids.withColumnRenamed("id", "dst"),
                                 on="dst", how="left_anti"))
                g.refresh_edge_views()  # the cascade dropped edges
            g.vertices = g.vertices.join(ids, on="id", how="left_anti")
            lab = self._labels.get(var)
            self._refresh_views({lab} if lab else None)
            summaries.append(ids.select(
                "id", F.lit(self._labels.get(var)).alias("label")))
        self._write_summary = reduce(lambda a, b: a.unionByName(b),
                                     summaries)
        return df


def cypher(graph: PropertyGraph, query: str,
           params: dict | None = None) -> DataFrame:
    """Run a Cypher query against the graph. Top-level ``UNION [ALL]``
    combines sub-queries by column name (openCypher requires identical
    return columns; mixing UNION and UNION ALL is rejected, as in
    Neo4j). Each arm compiles independently — the combined plan is one
    Spark union (narrow; DISTINCT adds the single dedup shuffle the
    semantics require).

    ``params`` binds openCypher ``$name`` parameters (str / num /
    bool / list values; lists also drive ``IN $ids``). Parameters
    resolve to literals at PARSE time, so a parameterized predicate
    pushes into the scan exactly like its literal spelling — the
    openCypher parameter surface the reference accepts through its
    translation layer (api/opencypher/CypherOpProcessor.java).

    A leading ``EXPLAIN`` returns the Catalyst plan STRING for the
    compiled query (openCypher's EXPLAIN, which the reference passes
    through its Cypher→Gremlin layer); ``PROFILE`` executes once and
    returns the per-operator metrics DataFrame — both share the
    Gremlin surface's helpers (plans.py), so the two query languages
    report plans identically. Deviation (documented): write clauses
    apply on COMPILE here (batch semantics), so EXPLAIN of a write
    query is not side-effect-free — use it on reads."""
    head = query.lstrip()[:8].upper()
    if head.startswith("EXPLAIN") or head.startswith("PROFILE"):
        kw = head[:7]
        body = query.lstrip()[7:]
        df = cypher(graph, body, params)
        from incubator_hugegraph_spark.plans import (explain_string,
                                                     profile_metrics)
        return explain_string(df) if kw == "EXPLAIN" \
            else profile_metrics(df)
    toks = _tokenize(query)
    parts: list[list] = [[]]
    alls: list[bool] = []
    i = 0
    while i < len(toks):
        if toks[i][0] == "UNION":
            parts[-1].append(("EOF", ""))
            parts.append([])
            if toks[i + 1][0] == "ALL":
                alls.append(True)
                i += 2
            else:
                alls.append(False)
                i += 1
            continue
        parts[-1].append(toks[i])
        i += 1
    if len(parts) == 1:
        return CypherEngine(graph).run_tokens(parts[0], params)
    if len(set(alls)) > 1:
        raise SyntaxError(
            "cypher: cannot mix UNION and UNION ALL in one query")
    dfs = [CypherEngine(graph).run_tokens(p, params) for p in parts]
    cols = dfs[0].columns
    for d in dfs[1:]:
        if d.columns != cols:
            raise SyntaxError(
                f"cypher: UNION arms must return the same columns "
                f"({cols} vs {d.columns})")
    out = reduce(lambda a, b: a.unionByName(b), dfs)
    return out if alls[0] else out.dropDuplicates()
