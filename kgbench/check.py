"""Output checker of the benchmark, independent of the program.

It reads what a run left on disk (parquet written by the program) with
DuckDB and compares it with results it computes itself:

- markup builds: per-predicate triple counts, the set of itemid-subject
  triples and the (headline, wordCount, url) of every anonymous Article,
  all derived from the generator's parameters (corpus.py);
- linked builds: the reportsTo / manages closure against a recursive CTE
  over the org tree derived from the parameters, one canonical subject per
  entity holding exactly its chain of contact keys, and the rewrite rules'
  consequences (identifier, foaf:name, Agent);
- folds: the standing graph equals, as a set and without duplicate rows, a
  from-scratch extraction of the base corpus plus all deltas; markup's also
  equals the parameter-derived triples; linked's link-state components equal
  a union-find over the contact-key edges, and its closure equals the
  rewrite-rule closure computed here;
- reads: BGP and DESCRIBE bindings equal SQL over the stored parquet, path
  pairs equal a recursive CTE, the canonical view equals a SQL rewrite
  through the stored link state, and PageRank equals an integer power
  iteration bit for bit.

A self-test then perturbs the loaded outputs (one triple dropped, one
mention moved to another component, one closure triple removed, one
PageRank value changed, one binding dropped) and requires every affected
check to reject them. `check()` returns the list of failures (empty: pass).
"""
import os

import duckdb

import corpus

SKOLEM = "did:skolem:"
S = corpus.SCHEMA
XSD = "http://www.w3.org/2001/XMLSchema#"
OWL = "http://www.w3.org/2002/07/owl#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
TYPE = corpus.RDF_TYPE
IDENT = "subj, pred, obj_iri, obj_lexical, obj_datatype, obj_lang"


def q(v):
    return "'" + v.replace("'", "''") + "'"


def scan(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def triple_set(con, path):
    return set(con.execute(f"SELECT DISTINCT {IDENT} FROM {scan(path)}").fetchall())


def dup_rows(con, path):
    return con.execute(f"SELECT count(*) - (SELECT count(*) FROM (SELECT DISTINCT {IDENT} "
                       f"FROM {scan(path)})) FROM {scan(path)}").fetchone()[0]


def same(name, actual, expected):
    """None when equal, else a short description of the difference."""
    if actual == expected:
        return None
    if isinstance(actual, (set, frozenset)) and isinstance(expected, (set, frozenset)):
        extra, missing = actual - expected, expected - actual
        return (f"{name}: {len(extra)} unexpected, {len(missing)} missing "
                f"(e.g. {sorted(map(str, extra))[:1]} / {sorted(map(str, missing))[:1]})")
    return f"{name}: got {str(actual)[:200]}, expected {str(expected)[:200]}"


# ---------------------------------------------------------------- markup

def markup_rows(seed, lo, hi):
    sk = corpus.seed_key(seed)
    return (f"SELECT id, (id + {sk}) % 4 AS kind, {corpus.r(seed, 1)} % {corpus.PERSON_IDS} AS pk, "
            f"{corpus.r(seed, 2)} % {corpus.ORGS} AS org, {corpus.r(seed, 3)} AS r3, "
            f"{corpus.r(seed, 4)} % 50 AS st FROM range({lo}, {hi}) t(id)")


def markup_itemid_triples(con, seed, lo, hi):
    """Every triple with an itemid subject that extraction of ids [lo, hi) yields."""
    p = "'http://ex.org/person/' || pk"
    o = "'http://ex.org/org/' || org"
    n = "NULL::VARCHAR"
    parts = [
        f"{p}, '{TYPE}', '{S}Person', {n}, {n}, {n}",
        f"{p}, '{S}name', {n}, 'Person ' || id, {n}, 'en'",
        f"{p}, '{S}score', {n}, CAST(r3 % 97 AS VARCHAR), '{XSD}integer', {n}",
        f"{p}, '{S}seen', {n}, '2026-01-01', '{XSD}date', {n}",
        f"{o}, '{TYPE}', '{S}Organization', {n}, {n}, {n}",
        f"{o}, '{S}name', {n}, 'Org ' || org, {n}, 'en'",
        f"{p}, '{S}org', {o}, {n}, {n}, {n}",
        f"{p}, '{S}additionalType', 'http://ex.org/class/P', {n}, {n}, {n}",
        f"{p}, '{TYPE}', 'http://ex.org/class/P', {n}, {n}, {n}",
    ]
    rows = markup_rows(seed, lo, hi)
    sql = " UNION ".join(f"SELECT {x} FROM ({rows}) WHERE kind = 0" for x in parts)
    sql += (f" UNION SELECT 'http://ex.org/o/' || id, '{TYPE}', '{S}Order', {n}, {n}, {n} "
            f"FROM ({rows}) WHERE kind = 2 UNION SELECT 'http://ex.org/o/' || id, '{S}orderStatus', "
            f"{n}, 'S' || st, {n}, {n} FROM ({rows}) WHERE kind = 2")
    return set(con.execute(sql).fetchall())


def markup_articles(con, seed, lo, hi):
    return set(con.execute(
        f"SELECT 'Headline ' || id, CAST(r3 % 1000 AS VARCHAR), 'http://ex.org/a/' || id "
        f"FROM ({markup_rows(seed, lo, hi)}) WHERE kind = 1").fetchall())


def markup_pred_counts(con, seed, lo, hi):
    n = dict(con.execute(f"SELECT kind, count(*) FROM ({markup_rows(seed, lo, hi)}) "
                         f"GROUP BY kind").fetchall())
    p, a, o = n.get(0, 0), n.get(1, 0), n.get(2, 0)
    counts = {TYPE: 3 * p + a + o, S + "name": 2 * p, S + "score": p, S + "seen": p,
              S + "org": p, S + "additionalType": p, S + "headline": a, S + "wordCount": a,
              S + "url": a, S + "orderStatus": o}
    return {k: v for k, v in counts.items() if v}


def articles_of(triples):
    """(headline, wordCount, url) of every skolem subject typed Article."""
    by = {}
    for s, p, oi, ol, _, _ in triples:
        if s.startswith(SKOLEM):
            by.setdefault(s, {})[p] = oi if oi is not None else ol
    return {(d.get(S + "headline"), d.get(S + "wordCount"), d.get(S + "url"))
            for d in by.values() if d.get(TYPE) == S + "Article" and len(d) == 4}


def itemid_of(triples):
    return {t for t in triples if not t[0].startswith(SKOLEM)}


def check_markup(con, c, seed):
    checks = []  # (name, actual, expected, perturbable)
    n, d = corpus.MARKUP_TURNS, corpus.MARKUP_DELTA_TURNS
    build = c["build"]
    counts = dict(con.execute(f"SELECT pred, count(*) FROM {scan(build)} GROUP BY pred").fetchall())
    checks.append(("build per-predicate counts", counts, markup_pred_counts(con, seed, 0, n)))
    bset = triple_set(con, build)
    checks.append(("build itemid triples", itemid_of(bset), markup_itemid_triples(con, seed, 0, n)))
    checks.append(("build articles", articles_of(bset), markup_articles(con, seed, 0, n)))
    root = os.path.join(c["root"], "graph")
    rset = triple_set(con, root)
    hi = n + corpus.FOLDS * d
    checks.append(("root graph vs from-scratch extraction", rset, triple_set(con, c["scratch_extract"])))
    checks.append(("root graph duplicate rows", dup_rows(con, root), 0))
    checks.append(("root itemid triples", itemid_of(rset), markup_itemid_triples(con, seed, 0, hi)))
    checks.append(("root articles", articles_of(rset), markup_articles(con, seed, 0, hi)))
    return checks, {"build": bset, "root": rset}


# ---------------------------------------------------------------- linked

def closure_pairs(con, edges_sql):
    """Transitive closure (s, o) of an edge query, by recursive CTE."""
    return set(con.execute(
        f"WITH RECURSIVE e AS ({edges_sql}), c(s, o) AS (SELECT s, o FROM e UNION "
        f"SELECT e.s, c.o FROM e JOIN c ON e.o = c.s) SELECT s, o FROM c").fetchall())


def pred_pairs(triples, pred):
    return {(t[0], t[2] if t[2] is not None else t[3]) for t in triples if t[1] == pred}


def rule_closure(facts):
    """Fixpoint of the rewrite rules (subPropertyOf, equivalentProperty,
    inverseOf, SymmetricProperty, subClassOf, equivalentClass)."""
    facts = set(facts)
    delta = set(facts)
    while delta:
        pred, inv, cls = {}, {}, {}
        for s, p, o, *_ in facts:
            if o is None:
                continue
            if p == RDFS + "subPropertyOf":
                pred.setdefault(s, set()).add(o)
            elif p == OWL + "equivalentProperty":
                pred.setdefault(s, set()).add(o); pred.setdefault(o, set()).add(s)
            elif p == OWL + "inverseOf":
                inv.setdefault(s, set()).add(o); inv.setdefault(o, set()).add(s)
            elif p == TYPE and o == OWL + "SymmetricProperty":
                inv.setdefault(s, set()).add(s)
            elif p == RDFS + "subClassOf":
                cls.setdefault(s, set()).add(o)
            elif p == OWL + "equivalentClass":
                cls.setdefault(s, set()).add(o); cls.setdefault(o, set()).add(s)
        new = set()
        # schema edges may be new this round, so derive from every fact
        for s, p, oi, ol, od, og in facts:
            for p2 in pred.get(p, ()):
                new.add((s, p2, oi, ol, od, og))
            if oi is not None:
                for p2 in inv.get(p, ()):
                    new.add((oi, p2, s, None, None, None))
                if p == TYPE:
                    for c2 in cls.get(oi, ()):
                        new.add((s, TYPE, c2, None, None, None))
        delta = new - facts
        facts |= delta
    return facts


def components(pairs):
    """Union-find partition of mention nodes over (mention, key) edges."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for m, k in pairs:
        a, b = find(m), find(("key", k))
        if a != b:
            parent[a] = b
    groups = {}
    for m, _ in pairs:
        groups.setdefault(find(m), set()).add(m)
    return {frozenset(g) for g in groups.values()}


def link_state_dir(root):
    state = os.path.join(root, "link_state")
    return os.path.join(state, open(os.path.join(state, "_link_state_latest")).read().strip())


def stored_components(con, root):
    rows = con.execute(f"SELECT node, component FROM {scan(link_state_dir(root))} "
                       f"WHERE starts_with(node, '{SKOLEM}')").fetchall()
    groups = {}
    for node, comp in rows:
        groups.setdefault(comp, set()).add(node)
    return {frozenset(g) for g in groups.values()}


def entity_chains(con, seed):
    """(name, contact keys) of every entity after its mentions merge."""
    rows = con.execute(f"SELECT id, {corpus.mention_count(seed)} FROM range(0, {corpus.ENTITIES}) t(id)")
    return {(f"Entity {e}", frozenset(f"key-{e}-{j}" for j in range(1, m + 2)))
            for e, m in rows.fetchall()}


def canonical_chains(triples):
    by = {}
    for s, p, oi, ol, _, _ in triples:
        if s.startswith(SKOLEM) and p in (S + "name", S + "contact"):
            by.setdefault(s, (set(), set()))[0 if p == S + "name" else 1].add(ol)
    return {(min(n), frozenset(k)) for n, k in by.values() if len(n) == 1 and k}


def check_linked(con, c, seed):
    checks = []
    build = c["build"]
    bset = triple_set(con, build)
    k = corpus.EMPLOYEES
    tree = (f"SELECT 'http://ex.org/emp/' || id AS s, 'http://ex.org/emp/' || "
            f"({corpus.manager(seed, corpus.FANOUT, k)}) AS o FROM range(1, {k}) t(id)")
    reports = closure_pairs(con, tree)
    checks.append(("build reportsTo closure", pred_pairs(bset, S + "reportsTo"), reports))
    checks.append(("build manages (inverse of the closure)", pred_pairs(bset, "http://ex.org/manages"),
                   {(o, s) for s, o in reports}))
    checks.append(("build canonical mentions", canonical_chains(bset), entity_chains(con, seed)))
    checks.append(("build identifier = contact", pred_pairs(bset, "http://ex.org/identifier"),
                   pred_pairs(bset, S + "contact")))
    checks.append(("build foaf:name = name", pred_pairs(bset, "http://xmlns.com/foaf/0.1/name"),
                   pred_pairs(bset, S + "name")))
    checks.append(("build Agent = Person",
                   {s for s, o in pred_pairs(bset, TYPE) if o == "http://ex.org/Agent"},
                   {s for s, o in pred_pairs(bset, TYPE) if o == S + "Person"}))
    root = c["root"]
    graph = os.path.join(root, "graph")
    rset = triple_set(con, graph)
    checks.append(("root graph vs from-scratch extraction", rset, triple_set(con, c["scratch_extract"])))
    checks.append(("root graph duplicate rows", dup_rows(con, graph), 0))
    links = {(t[0], t[3]) for t in rset if t[1] == S + "contact" and t[0].startswith(SKOLEM)}
    comps = stored_components(con, root)
    checks.append(("link-state components vs union-find", comps, components(links)))
    closure = triple_set(con, os.path.join(root, "closure"))
    checks.append(("closure vs rewrite-rule fixpoint", closure, rule_closure(rset)))
    return checks, {"build": bset, "root": rset, "components": comps, "closure": closure,
                    "links": links}


# ---------------------------------------------------------------- reads

def term(t):
    if t.startswith("?"):
        return ("v", t[1:])
    if t.startswith("<") and t.endswith(">"):
        return ("c", t[1:-1])
    if t.startswith('"') and t.endswith('"'):
        return ("c", t[1:-1])
    if t.startswith("<") and t.endswith(">+"):
        return ("path", t[1:-2])
    raise ValueError(t)


def tokens(pattern):
    out, cur, quote = [], "", False
    for ch in pattern:
        if ch == '"':
            quote = not quote
        if ch == " " and not quote:
            if cur:
                out.append(cur)
            cur = ""
        else:
            cur += ch
    return out + ([cur] if cur else [])


def bgp_sql(view, patterns):
    froms, wheres, binds = [], [], {}
    for i, pat in enumerate(patterns):
        a = f"t{i}"
        froms.append(f"{view} {a}")
        for col, (kind, v) in zip(("subj", "pred", "obj"), pat):
            e = f"{a}.{col}"
            if kind == "c":
                wheres.append(f"{e} = {q(v)}")
            elif v in binds:
                wheres.append(f"{e} = {binds[v]}")
            else:
                binds[v] = e
    return (f"SELECT DISTINCT {', '.join(f'{e} AS {v}' for v, e in binds.items())} "
            f"FROM {', '.join(froms)}" + (f" WHERE {' AND '.join(wheres)}" if wheres else ""),
            list(binds))


def graph_view(con, name, args):
    """A (subj, pred, obj, identity...) view of the graph a query reads."""
    if "--canonical" in args:
        root = args[args.index("--canonical") + 1]
        con.execute(f"""CREATE OR REPLACE TEMP VIEW {name}_m AS
            WITH st AS (SELECT node, component FROM {scan(link_state_dir(root))}
                        WHERE starts_with(node, '{SKOLEM}'))
            SELECT st.node AS subj, c.canonical FROM st JOIN
              (SELECT component, min(node) AS canonical FROM st GROUP BY component) c
              USING (component) WHERE st.node <> c.canonical""")
        src = f"""(SELECT DISTINCT coalesce(ms.canonical, g.subj) AS subj, g.pred,
                     coalesce(mo.canonical, g.obj_iri) AS obj_iri, g.obj_lexical,
                     g.obj_datatype, g.obj_lang
                   FROM {scan(os.path.join(root, 'graph'))} g
                   LEFT JOIN {name}_m ms ON g.subj = ms.subj
                   LEFT JOIN {name}_m mo ON g.obj_iri = mo.subj)"""
    else:
        src = scan(args[args.index("--graph") + 1])
    con.execute(f"CREATE OR REPLACE TEMP VIEW {name} AS SELECT {IDENT}, "
                f"coalesce(obj_iri, obj_lexical) AS obj FROM {src}")
    return name


def expected_read(con, kind, args):
    """The rows a read should return, computed in DuckDB / Python."""
    if kind == "pagerank":
        edges = con.execute(
            f"SELECT DISTINCT subj, obj_iri FROM {scan(args[args.index('--graph') + 1])} "
            f"WHERE pred = {q(args[args.index('--pred') + 1])} AND obj_iri IS NOT NULL").fetchall()
        return pagerank(edges, int(args[args.index("--iters") + 1]))
    g = graph_view(con, "g", args)
    pats = [[term(t) for t in tokens(args[i + 1])] for i, a in enumerate(args) if a == "--pattern"]
    paths = [p for p in pats if p[1][0] == "path"]
    if paths:
        (sk, sv), (_, pred), (ok, ov) = paths[0]
        edges = f"SELECT DISTINCT subj AS s, obj_iri AS o FROM {g} WHERE pred = {q(pred)} AND obj_iri IS NOT NULL"
        pairs = closure_pairs(con, edges)
        if sk == "v" and ok == "c":
            return {(s,) for s, o in pairs if o == ov}
        return {(o,) for s, o in pairs if s == sv}
    sql, _ = bgp_sql(g, pats)
    if "--describe" in args:
        v = args[args.index("--describe") + 1]
        return set(con.execute(f"SELECT DISTINCT {IDENT} FROM {g} WHERE subj IN "
                               f"(SELECT {v} FROM ({sql}))").fetchall())
    return set(con.execute(sql).fetchall())


def actual_read(con, kind, args):
    out = args[args.index("--output") + 1]
    if "--describe" in args:
        return set(con.execute(f"SELECT {IDENT} FROM {scan(out)}").fetchall())
    rows = con.execute(f"SELECT * FROM {scan(out)}").fetchall()
    return dict(rows) if kind == "pagerank" else set(rows)


def pagerank(edges, iters):
    """GraphRank's fixed-point PageRank: ranks in micro-units, per-edge floor
    division before the sum, dangling mass leaks."""
    damp, unit = 850000, 1000000
    out = {}
    nodes = set()
    for s, d in edges:
        out[s] = out.get(s, 0) + 1
        nodes.add(s)
        nodes.add(d)
    r = {n: unit for n in nodes}
    for _ in range(iters):
        contrib = {}
        for s, d in edges:
            contrib[d] = contrib.get(d, 0) + (r[s] * damp) // (out[s] * unit)
        r = {n: unit - damp + contrib.get(n, 0) for n in nodes}
    return r


# ---------------------------------------------------------------- entry

def perturb_set(x):
    y = set(x)
    y.discard(sorted(y, key=str)[len(y) // 2])
    return y


def self_test(checks, data, reads):
    """Each perturbation of a loaded output must make its check fail."""
    by = {name: exp for name, _, exp in checks}
    cases = []
    if "root graph vs from-scratch extraction" in by:
        cases.append(("root graph vs from-scratch extraction", perturb_set(data["root"])))
    if "build itemid triples" in by:
        cases.append(("build itemid triples", perturb_set(itemid_of(data["build"]))))
    if "build reportsTo closure" in by:
        cases.append(("build reportsTo closure", perturb_set(pred_pairs(data["build"], S + "reportsTo"))))
    if "closure vs rewrite-rule fixpoint" in by:
        cases.append(("closure vs rewrite-rule fixpoint", perturb_set(data["closure"])))
    if "link-state components vs union-find" in by:
        comps = sorted(data["components"], key=lambda g: sorted(g))
        big = [g for g in comps if len(g) > 1]
        moved = sorted(big[0])[0]
        other = comps[0] if comps[0] != big[0] else comps[1]
        comps = [g - {moved} if g == big[0] else (g | {moved} if g == other else g) for g in comps]
        cases.append(("link-state components vs union-find", set(map(frozenset, comps))))
    failures = []
    for name, bad in cases:
        if same(name, bad, by[name]) is None:
            failures.append(f"self-test: '{name}' accepted a perturbed output")
    for kind, actual, expected in reads[:1] + [r for r in reads if r[0] == "pagerank"][:1]:
        if kind == "pagerank":
            bad = dict(actual)
            node = sorted(bad)[0]
            bad[node] += 1
        else:
            bad = perturb_set(actual) if actual else {("?",)}
        if same(kind, bad, expected) is None:
            failures.append(f"self-test: the {kind} read check accepted a perturbed output")
    return failures


def check(c, workload, seed, work):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'tmp')}'")
    checks, data = (check_markup if workload == "markup" else check_linked)(con, c, seed)
    failures = [f for f in (same(n, a, e) for n, a, e in checks) if f]
    reads = []
    for spec in c["queries"]:
        kind, args = spec["kind"], spec["args"]
        actual, expected = actual_read(con, kind, args), expected_read(con, kind, args)
        reads.append((kind, actual, expected))
        f = same(f"{kind} read {args[args.index('--output') + 1]}", actual, expected)
        if f:
            failures.append(f)
    if not c["queries"]:
        failures.append("no read completed")
    failures += self_test(checks, data, reads)
    con.close()
    return failures
