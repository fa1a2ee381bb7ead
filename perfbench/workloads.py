"""Workload definitions: statement templates, seeded schedules and checks.

A schedule is a list of `Stmt`s. Warm-up statements (kind "W") run once per
set-up, outside the timed region; timed statements (kind "T") run in order
until the run's time is up. Every parameter comes from the workload seed.

Each executed timed statement is checked after the run, outside the timed
region, against `expected()`: a numpy/Python model of the graph read back
from the generated parquet. On pokec_mixed the model replays the session's
own writes in order, so every read checks the writes before it.
"""
import collections
import math
from dataclasses import dataclass, field

import numpy as np

@dataclass
class Stmt:
    kind: str          # "W" warm-up or "T" timed
    idx: int
    template: str
    cls: str
    cypher: str
    params: dict = field(default_factory=dict)

    def tsv(self):
        def enc(v):
            if isinstance(v, str):
                return "S:" + v
            if isinstance(v, (list, tuple)):
                return "LL:" + ",".join(str(int(x)) for x in v)
            return "L:%d" % int(v)
        ps = ";".join("%s=%s" % (k, enc(v)) for k, v in sorted(self.params.items()))
        text = " ".join(self.cypher.split())
        return "\t".join([self.kind, str(self.idx), self.template, self.cls, ps, text])


# ---- Cypher templates (mgbench pokec groups) --------------------------------

USER_COLS = ("n.id AS id, n.age AS age, n.gender AS gender, "
             "n.completion_percentage AS cp")
CYPHER = {
    "lookup": "MATCH (n:User {id: $id}) RETURN " + USER_COLS,
    "expansion_1": "MATCH (s:User {id: $id})-->(n:User) RETURN n.id AS id",
    "expansion_1_filter":
        "MATCH (s:User {id: $id})-->(n:User) WHERE n.age >= 18 RETURN n.id AS id",
    "expansion_2":
        "MATCH (s:User {id: $id})-->()-->(n:User) RETURN DISTINCT n.id AS id",
    "expansion_2_filter":
        "MATCH (s:User {id: $id})-->()-->(n:User) WHERE n.age >= 18 "
        "RETURN DISTINCT n.id AS id",
    "neighbours_2":
        "MATCH (s:User {id: $id})-[*1..2]->(n:User) RETURN DISTINCT n.id AS id",
    "neighbours_2_filter":
        "MATCH (s:User {id: $id})-[*1..2]->(n:User) WHERE n.age >= 18 "
        "RETURN DISTINCT n.id AS id",
    "neighbours_2_data":
        "MATCH (s:User {id: $id})-[*1..2]->(n:User) RETURN DISTINCT " + USER_COLS,
    "neighbours_2_data_filter":
        "MATCH (s:User {id: $id})-[*1..2]->(n:User) WHERE n.age >= 18 "
        "RETURN DISTINCT " + USER_COLS,
    "pattern_short":
        "MATCH (s:User {id: $id})-[e]->(m) RETURN min(m.id) AS id",
    "aggregate": "MATCH (n:User) RETURN n.age AS age, count(*) AS c",
    "aggregate_filter":
        "MATCH (n:User) WHERE n.age >= 18 RETURN n.age AS age, count(*) AS c",
    "shortest_path":
        "MATCH (a:User {id: $from}), (b:User {id: $to}) WITH a, b "
        "MATCH p = (a)-[*BFS..15]->(b) RETURN size(nodes(p)) - 1 AS hops",
    "shortest_path_filter":
        "MATCH (a:User {id: $from}), (b:User {id: $to}) WITH a, b "
        "MATCH p = (a)-[*BFS..15 (e, v | v.age >= 18)]->(b) "
        "RETURN size(nodes(p)) - 1 AS hops",
    # writes continue the session's version chain
    "create_vertex":
        "CREATE (n:User {id: $id, age: $age, gender: $gender, "
        "completion_percentage: $cp}) RETURN n.id AS id",
    "create_edge":
        "MATCH (a:User {id: $a}), (b:User {id: $b}) "
        "CREATE (a)-[:TempEdge]->(b) RETURN a.id AS a, b.id AS b",
    "merge":
        "MERGE (n:User {id: $id}) ON CREATE SET n.age = $age, "
        "n.gender = $gender, n.completion_percentage = $cp "
        "RETURN n.id AS id, n.age AS age",
    "update": "MATCH (n:User {id: $id}) SET n.age = $age RETURN n.age AS age",
    # whole-graph analytics; the procedure runs on the User/FRIEND subgraph
    "pagerank":
        "CALL algo.pagerank({label: 'User', type: 'FRIEND', iterations: 10, "
        "damping: 0.85}) YIELD node, rank WHERE node IN $probe "
        "RETURN node, rank",
}

CLASS_OF = {
    "lookup": "read", "expansion_1": "read", "expansion_1_filter": "read",
    "expansion_2": "read", "expansion_2_filter": "read",
    "neighbours_2": "read", "neighbours_2_filter": "read",
    "neighbours_2_data": "read", "neighbours_2_data_filter": "read",
    "pattern_short": "read",
    "shortest_path": "path", "shortest_path_filter": "path",
    "aggregate": "analytic", "aggregate_filter": "analytic",
    "pagerank": "analytic",
    "create_vertex": "write", "create_edge": "write", "merge": "write",
    "update": "write",
}

# Engine-side node id of a loaded user (PokecGraphLoader.userId).
USER_NODE_BASE = 11 << 48

# ---- the graph as the checks see it ------------------------------------------

class Graph:
    """Users and out-adjacency, with room for the session's own writes.

    `users` holds the loaded users' (age, gender, completion_percentage)
    columns, indexed by id."""

    def __init__(self, users, src, dst):
        self.base_age, self.base_gender, self.base_cp = users
        n = self.n_base = len(self.base_age)
        order = np.lexsort((dst, src))
        self.src, self.dst = src[order], dst[order]
        self.offsets = np.searchsorted(self.src, np.arange(n + 1))
        self.age = {}        # overrides and created users only
        self.created = {}    # id -> (age, gender, cp)
        self.extra = collections.defaultdict(list)  # TempEdge adjacency

    def exists(self, u):
        return 0 <= u < self.n_base or u in self.created

    def props(self, u):
        if u in self.created:
            a, g, cp = self.created[u]
        else:
            a, g, cp = (int(self.base_age[u]), int(self.base_gender[u]),
                        int(self.base_cp[u]))
        return (self.age.get(u, a), g, cp)

    def out(self, u):
        base = (self.dst[self.offsets[u]:self.offsets[u + 1]].tolist()
                if 0 <= u < self.n_base else [])
        return base + self.extra.get(u, [])

    def users(self):
        return list(range(self.n_base)) + list(self.created)

    def bfs_hops(self, a, b, keep=lambda v: True, limit=15):
        seen, frontier = {a}, [a]
        for hop in range(1, limit + 1):
            nxt = []
            for u in frontier:
                for v in self.out(u):
                    if v not in seen and keep(v):
                        if v == b:
                            return hop
                        seen.add(v)
                        nxt.append(v)
            if not nxt:
                return None
            frontier = nxt
        return None


# ---- expected results from the model -----------------------------------------

def expected(g, s):
    """Rows the statement must return on the model's current version."""
    p, t = s.params, s.template
    adult = lambda v: g.props(v)[0] >= 18
    row = lambda v: [v, *g.props(v)]
    if t == "lookup":
        return [row(p["id"])] if g.exists(p["id"]) else []
    if t.startswith("expansion_1"):
        ns = g.out(p["id"])
        return [[v] for v in ns if t == "expansion_1" or adult(v)]
    if t.startswith("expansion_2"):
        ns = {w for v in g.out(p["id"]) for w in g.out(v)}
        return [[v] for v in ns if t == "expansion_2" or adult(v)]
    if t.startswith("neighbours_2"):
        one = g.out(p["id"])
        ns = set(one) | {w for v in one for w in g.out(v)}
        if "filter" in t:
            ns = {v for v in ns if adult(v)}
        return [row(v) if "data" in t else [v] for v in ns]
    if t == "pattern_short":
        ns = g.out(p["id"])
        return [[min(ns) if ns else None]]
    if t.startswith("aggregate"):
        ages = collections.Counter(g.props(u)[0] for u in g.users())
        return [[a, c] for a, c in ages.items() if t == "aggregate" or a >= 18]
    if t.startswith("shortest_path"):
        keep = adult if t.endswith("filter") else (lambda v: True)
        h = g.bfs_hops(p["from"], p["to"], keep)
        return [] if h is None else [[h]]
    if t == "pagerank":
        n = len(g.users())
        rank = np.full(n, 1.0 / n)
        # the engine's simple variant: FRIEND edges only, dangling rank leaks
        share = 1.0 / np.diff(g.offsets)[g.src]
        for _ in range(10):
            inflow = np.bincount(g.dst, weights=rank[g.src] * share, minlength=n)
            rank = (1 - 0.85) / n + 0.85 * inflow
        return [[k, float(rank[k - USER_NODE_BASE])] for k in p["probe"]]
    if t == "create_vertex":
        return [[p["id"]]]
    if t == "create_edge":
        both = g.exists(p["a"]) and g.exists(p["b"])
        return [[p["a"], p["b"]]] if both else []
    if t == "merge":
        return [[p["id"], g.props(p["id"])[0] if g.exists(p["id"]) else p["age"]]]
    if t == "update":
        return [[p["age"]]] if g.exists(p["id"]) else []
    raise KeyError(t)


def apply_write(g, s):
    """Advance the model past a write statement."""
    p, t = s.params, s.template
    if t == "create_vertex" or (t == "merge" and not g.exists(p["id"])):
        g.created[p["id"]] = (p["age"], p["gender"], p["cp"])
    elif t == "create_edge" and g.exists(p["a"]) and g.exists(p["b"]):
        g.extra[p["a"]].append(p["b"])
    elif t == "update" and g.exists(p["id"]):
        g.age[p["id"]] = p["age"]


# ---- schedules -----------------------------------------------------------------

# One cycle of each workload. The harness runs whole cycles until the run's
# time is up, so every run measures the same multiset of templates.
CYCLES = {
    # mgbench's isolated read groups, each template once, one at a time
    "pokec_read": [
        "lookup", "shortest_path", "expansion_1", "aggregate",
        "expansion_1_filter", "neighbours_2", "shortest_path_filter",
        "expansion_2", "neighbours_2_filter", "aggregate_filter",
        "expansion_2_filter", "neighbours_2_data", "pattern_short",
        "neighbours_2_data_filter",
    ],
    # mgbench's realistic mix: 30% write, 40% read, 10% update, 20% analytic
    "pokec_mixed": [
        "create_vertex", "lookup", "create_edge", "expansion_1", "update",
        "aggregate", "neighbours_2", "merge", "shortest_path", "pagerank",
    ],
}
# Far more cycles than a run gets through; the harness reports an error if
# it ever runs out.
MAX_CYCLES = 25
PATH_HOPS = 3   # bound endpoints of every shortest-path statement are this far apart


class ParamSource:
    """Seeded parameter draws over the loaded graph.

    Start vertices come from the middle half of the out-degree distribution
    and shortest-path endpoints lie exactly PATH_HOPS apart, so each template
    does comparable work under every seed. Writes mint fresh ids above the
    loaded range; `lookup`, `expansion_1` and `create_edge` start from the
    latest of them, so the session reads its own writes. Which statements
    use created ids is fixed, not drawn, to keep runs comparable.
    """

    def __init__(self, rng, g):
        self.rng, self.g = rng, g
        deg = np.diff(g.offsets)
        lo, hi = np.percentile(deg, [25, 75])
        self.typical = np.flatnonzero((deg >= lo) & (deg <= hi))
        self.adult = g.base_age >= 18
        self.next_id = g.n_base
        self.created = []
        self.merges = 0

    def user(self):
        return int(self.typical[self.rng.randint(len(self.typical))])

    def own(self):
        """The session's latest created user, else a loaded one."""
        return self.created[-1] if self.created else self.user()

    def fresh(self):
        self.next_id += 1 + int(self.rng.randint(3))
        self.created.append(self.next_id)
        return self.next_id

    def pair(self, adult_only):
        """Endpoints exactly PATH_HOPS apart on the loaded graph."""
        g = self.g
        while True:
            a = self.user()
            dist = np.full(g.n_base, -1)
            dist[a] = 0
            frontier = np.array([a])
            for hop in range(1, PATH_HOPS + 1):
                nb = np.concatenate([g.dst[g.offsets[u]:g.offsets[u + 1]] for u in frontier])
                nb = np.unique(nb[dist[nb] < 0])
                if adult_only:
                    nb = nb[self.adult[nb]]
                dist[nb] = hop
                frontier = nb
                if not len(nb):
                    break
            far = np.flatnonzero(dist == PATH_HOPS)
            if len(far):
                return {"from": a, "to": int(far[self.rng.randint(len(far))])}

    def params(self, t):
        r = self.rng
        if t in ("shortest_path", "shortest_path_filter"):
            return self.pair(t == "shortest_path_filter")
        if t in ("aggregate", "aggregate_filter"):
            return {}
        if t == "pagerank":
            return {"probe": sorted(USER_NODE_BASE + self.user() for _ in range(3))}
        props = {"age": int(r.randint(80)), "gender": int(r.randint(2)),
                 "cp": int(r.randint(100))}
        if t == "create_vertex":
            return {"id": self.fresh(), **props}
        if t == "create_edge":
            a, b = self.own(), self.user()
            while b == a:   # a self loop would meet relationship uniqueness
                b = self.user()
            return {"a": a, "b": b}
        if t == "merge":
            # alternately a fresh id (creates) and a loaded one (matches)
            self.merges += 1
            return {"id": self.fresh() if self.merges % 2 else self.user(), **props}
        if t == "update":
            return {"id": self.user(), "age": props["age"]}
        if t in ("lookup", "expansion_1"):
            return {"id": self.own()}
        return {"id": self.user()}


def schedule(workload, seed, g):
    """Warm-up statements (one per template) then the timed cycles."""
    cycle = CYCLES[workload]
    warm_src = ParamSource(np.random.RandomState([seed, 1]), g)
    out = []
    for t in sorted(set(cycle)):
        # warm-ups start from the loaded graph: they must not depend on
        # ids only the timed sequence creates
        out.append(Stmt("W", len(out), t, CLASS_OF[t], CYPHER[t], warm_src.params(t)))
    src = ParamSource(np.random.RandomState([seed, 2]), g)
    for _ in range(MAX_CYCLES):
        for t in cycle:
            out.append(Stmt("T", len(out), t, CLASS_OF[t], CYPHER[t], src.params(t)))
    return out


# ---- result comparison -----------------------------------------------------------

def _key(row):
    return [(0, 0) if x is None else (1, x) if isinstance(x, (int, float))
            else (2, str(x)) for x in row]


def same_rows(got, want, rel_tol=1e-6):
    """Order-insensitive row comparison; floats within a relative tolerance."""
    if len(got) != len(want):
        return False
    for a, b in zip(sorted(got, key=_key), sorted(want, key=_key)):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(
                        float(x), float(y), rel_tol=rel_tol, abs_tol=1e-12):
                    return False
            elif x != y:
                return False
    return True
