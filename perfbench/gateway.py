"""Seeded request traffic for the gateway workload, and its reply model.

`traffic()` builds, for each client, the set-up requests and a list of
cycles, together with the reply each request must get. The replies are
computed here, in plain Python over the generated tables, never by the
engine. The harness sees only the requests (`requests.json`); `check()`
compares its logged replies with the expected ones.

A cycle starts by re-PUTting the client's `orders` slice, so the state a
cycle reads is fixed whatever ran before it, and the chain of update-sets
on `orders` is cut every `UPDATE_SETS_PER_CYCLE` update-sets.
"""
import json
import math
import random

CLIENTS = 4
CYCLES = 12
UPDATE_SETS_PER_CYCLE = 2
WHILE_ROUNDS = 5
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FUNCTION = "def disc(p:number, d:number) => p * (1 - d)"


def _rows(table, cols):
    d = table.select(cols).to_pydict()
    return [dict(zip(cols, vals)) for vals in zip(*(d[c] for c in cols))]


def _req(verb, method, path, body, expect):
    return {"verb": verb, "method": method, "path": path, "body": body}, expect


def _ok():
    return {"type": "ok"}


class _Client:
    """One client's database state, as the reply model sees it."""

    def __init__(self, c, rng, tables, db=None):
        self.c, self.rng, self.db = c, rng, db or f"c{c}"
        self.nation = _rows(tables["nation"], ["n_nationkey", "n_name", "n_regionkey"])
        self.supplier = _rows(tables["supplier"],
                              ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"])
        self.customer = _rows(tables["customer"], ["c_custkey", "c_name", "c_nationkey",
                                                   "c_acctbal", "c_mktsegment"])
        orders = _rows(tables["orders"], ["o_orderkey", "o_custkey", "o_orderstatus",
                                          "o_totalprice", "o_orderpriority"])
        self.slice = orders[c::CLIENTS]
        self.nation_of = {r["c_custkey"]: r["c_nationkey"] for r in self.customer}
        self.segment_of = {r["c_custkey"]: r["c_mktsegment"] for r in self.customer}
        self.orders = []
        self.next_key = 10_000_000 * (c + 1)

    def path(self, name=""):
        return f"/{self.db}" + (f"/{name}" if name else "")

    def setup(self):
        return [
            _req("put", "PUT", self.path("nation"), json.dumps(self.nation), _ok()),
            _req("put", "PUT", self.path("supplier"), json.dumps(self.supplier), _ok()),
            _req("put", "PUT", self.path("customer"), json.dumps(self.customer), _ok()),
            _req("reload", "PUT", self.path("orders"), json.dumps(self.slice), _ok()),
            _req("script", "POST", self.path(), FUNCTION, {"type": "output", "values": []}),
        ]

    # ---- reads

    def join_fold(self):
        nations = sorted({self.nation_of[o["o_custkey"]] for o in self.orders})
        k = self.rng.choice(nations)
        groups = {}
        for o in self.orders:
            if self.nation_of[o["o_custkey"]] == k:
                g = groups.setdefault(self.segment_of[o["o_custkey"]], [0, 0.0])
                g[0] += 1
                g[1] += o["o_totalprice"]
        self.qa = [{"c_mktsegment": s, "cnt": n, "tot": t} for s, (n, t) in groups.items()]
        body = ("qa := (orders .{ c_custkey := o_custkey, o_orderkey, o_totalprice } "
                f"join customer) .where(c_nationkey = {k}) "
                ".{ c_mktsegment, cnt := fold(+, 1), tot := fold(+, o_totalprice) }\n"
                "write(count(qa))")
        return _req("script", "POST", self.path(), body,
                    {"type": "output", "values": [len(groups)]})

    def restrict_fold(self):
        p = self.rng.choice(PRIORITIES)
        prices = sorted(o["o_totalprice"] for o in self.orders if o["o_orderpriority"] == p)
        x = prices[len(prices) // 2]
        body = (f"write(orders .where(o_orderpriority = '{p}' and o_totalprice >= {x!r}) "
                ".select{ (fold(max, o_totalprice)) })")
        return _req("script", "POST", self.path(), body,
                    {"type": "output", "values": [max(prices)]})

    def small_while(self):
        m = WHILE_ROUNDS
        body = ("qd := {{ N := 0 }} .while({{ N := N + 1 }} "
                f".where(N <= {m}))\nwrite(count(qd))")
        return _req("script", "POST", self.path(), body,
                    {"type": "output", "values": [m + 1]})

    def get(self, name, rows):
        return _req("get", "GET", self.path(name), "", {"type": "rows", "rows": rows})

    def evaluate(self):
        o = self.rng.choice(self.orders)
        p, d = o["o_totalprice"], self.rng.randint(1, 10) / 100
        return _req("eval", "POST", self.path("disc"), json.dumps([p, d]),
                    {"type": "value", "value": p * (1 - d)})

    # ---- writes

    def update_set(self):
        cust = self.rng.choice(sorted({o["o_custkey"] for o in self.orders}))
        add = self.rng.randint(1, 9)
        for o in self.orders:
            if o["o_custkey"] == cust:
                o["o_totalprice"] += add
        body = (f"update orders .where(o_custkey = {cust}) "
                f".select{{ *o_totalprice := o_totalprice + {add} }}")
        return _req("update_set", "POST", self.path(), body, {"type": "output", "values": []})

    def insert(self):
        src = self.rng.choice(self.orders)
        self.next_key += 1
        row = dict(src, o_orderkey=self.next_key)
        self.orders.append(row)
        body = (f"update orders union (orders .where(o_orderkey = {src['o_orderkey']}) "
                f".{{ *o_orderkey := o_orderkey + {self.next_key - src['o_orderkey']} }})")
        return _req("insert", "POST", self.path(), body, {"type": "output", "values": []})

    def delete(self):
        o = self.rng.choice(self.orders)
        self.orders.remove(o)
        body = f"update orders .where(o_orderkey = {o['o_orderkey']}) .select{{}}"
        return _req("delete", "POST", self.path(), body, {"type": "output", "values": []})

    def put_notes(self):
        notes = [{"id": i, "note": f"c{self.c}-{self.rng.randint(0, 999)}"}
                 for i in range(self.rng.randint(2, 5))]
        self.notes = notes
        return _req("put", "PUT", self.path("notes"), json.dumps(notes), _ok())

    def probe_cycle(self):
        """Every verb at least once, without the two slowest scripts: the
        cycle the traced run's probes replay in-process and over HTTP."""
        self.orders = [dict(o) for o in self.slice]
        out = [_req("reload", "PUT", self.path("orders"), json.dumps(self.slice), _ok())]
        out += [self.join_fold(), self.get("qa", self.qa), self.restrict_fold(),
                self.evaluate(), self.get("nation", self.nation), self.update_set(),
                self.update_set(), self.insert(), self.delete(), self.put_notes(),
                self.get("notes", self.notes)]
        return out

    def cycle(self):
        """A reload, then the same thirteen requests in the same order: a
        join + grouped-fold script and a GET of its result, an Evaluate, an
        update-set, a restrict + fold script, a GET of a set-up relvar, a
        small `while`, a second update-set, an Evaluate, an insert, a
        delete, and a small PUT and its GET. Reads are 8 of the 14; the
        seed picks parameters, keys and payloads, not the order, so every
        cycle costs about the same."""
        self.orders = [dict(o) for o in self.slice]
        out = [_req("reload", "PUT", self.path("orders"), json.dumps(self.slice), _ok())]
        steps = ["join", "eval", "update_set", "restrict", "get", "while",
                 "update_set", "eval", "insert", "delete", "notes"]
        assert steps.count("update_set") == UPDATE_SETS_PER_CYCLE
        for s in steps:
            if s == "join":
                out.append(self.join_fold())
                out.append(self.get("qa", self.qa))
            elif s == "restrict":
                out.append(self.restrict_fold())
            elif s == "while":
                out.append(self.small_while())
            elif s == "get":
                if self.rng.random() < 0.5:
                    out.append(self.get("nation", self.nation))
                else:
                    out.append(self.get("supplier", self.supplier))
            elif s == "eval":
                out.append(self.evaluate())
            elif s == "update_set":
                out.append(self.update_set())
            elif s == "insert":
                out.append(self.insert())
            elif s == "delete":
                out.append(self.delete())
            elif s == "notes":
                out.append(self.put_notes())
                out.append(self.get("notes", self.notes))
        return out


def traffic(tables, seed):
    """(requests for the harness, expected replies), keyed alike. The
    `probe` part is for the traced run's probes, on a database of its own."""
    rng = random.Random(seed)
    probe = _Client(0, random.Random(rng.getrandbits(64)), tables, db="probe")
    reqs = {"probe": {"setup": [r for r, _ in probe.setup()],
                      "cycle": [r for r, _ in probe.probe_cycle()]},
            "setup": [], "cycles": []}
    want = {"setup": [], "cycles": []}
    for c in range(CLIENTS):
        cl = _Client(c, random.Random(rng.getrandbits(64)), tables)
        s = cl.setup()
        reqs["setup"].append([r for r, _ in s])
        want["setup"].append([e for _, e in s])
        cycles = [cl.cycle() for _ in range(CYCLES)]
        reqs["cycles"].append([[r for r, _ in cy] for cy in cycles])
        want["cycles"].append([[e for _, e in cy] for cy in cycles])
    return reqs, want


def _close(a, b):
    if isinstance(a, str) or isinstance(b, str):
        return a == b
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)


def _row_key(r):
    return tuple(sorted((k, round(v, 4) if isinstance(v, float) else v)
                        for k, v in r.items()))


def _same_rows(got, want):
    if len(got) != len(want):
        return False
    g, w = sorted(got, key=_row_key), sorted(want, key=_row_key)
    return all(a.keys() == b.keys() and all(_close(a[k], b[k]) for k in a)
               for a, b in zip(g, w))


def _problem(status, body, expect):
    if status != 200:
        return f"status {status}: {body[:200]}"
    reply = json.loads(body)
    t = expect["type"]
    if t == "rows":
        return None if _same_rows(reply, expect["rows"]) else "rows differ"
    if not reply.get("ok"):
        return f"not ok: {body[:200]}"
    if t == "output":
        lines = reply.get("output", "").split()
        if len(lines) != len(expect["values"]) or not all(
                _close(float(a), b) for a, b in zip(lines, expect["values"])):
            return f"output {lines} != {expect['values']}"
    if t == "value" and not _close(float(reply["value"]), expect["value"]):
        return f"value {reply['value']} != {expect['value']}"
    return None


def check(replies_path, want):
    """Returns the problems found in the logged replies."""
    bad = []
    with open(replies_path) as f:
        for line in f:
            r = json.loads(line)
            c, tag, i = r["client"], r["tag"], r["i"]
            if tag.startswith("setup"):
                expect = _ok() if i == 0 else want["setup"][c][i - 1]
            else:
                expect = want["cycles"][c][int(tag[len("cycle"):])][i]
            p = _problem(r["status"], r["body"], expect)
            if p:
                bad.append(f"client {c} {tag} #{i}: {p}")
    return bad
