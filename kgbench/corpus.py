"""Seeded transcript generators of the two workloads, in DuckDB SQL.

Every value is a closed-form function of (seed, row id): the pseudo-random
stream is r(salt) = (id * 2654435761 + seed' * 1000003 + salt * 7919) mod
2147483647 with seed' = seed mod 100000, which stays inside a signed 64-bit
integer. check.py derives the expected triples from the same parameters.

Transcripts have the product's table shape (conv_id, turn_idx, role, text,
tool, ts) and are written as parquet, one directory per input.
"""
import json
import os

SCHEMA = "http://schema.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

# Every size lives here. generate() writes the ones the JVM side needs to
# params.json beside the inputs (see params()); check.py imports them.
# timed folds per run, the same on both workloads and in every run
FOLDS = 3
# sizes: `markup`
MARKUP_TURNS = 20000
PERSON_IDS = 20000
ORGS = 500
MARKUP_DELTA_TURNS = 2000
# sizes: `linked`
ENTITIES = 800
EMPLOYEES = 1600
FANOUT = 12
DELTA_ENTITIES = 20
DELTA_EMPLOYEES = 40
# the untimed warm-up build's corpus
WARM_ENTITIES = 100
WARM_EMPLOYEES = 200


def seed_key(seed):
    return seed % 100000


def r(seed, salt, ident="id"):
    return f"(({ident}) * 2654435761 + {seed_key(seed) * 1000003 + salt * 7919}) % 2147483647"


def _turns(conv, turn_idx, text, source):
    return (f"SELECT {conv} AS conv_id, CAST({turn_idx} AS INTEGER) AS turn_idx, "
            f"'assistant' AS role, {text} AS text, CAST(NULL AS VARCHAR) AS tool, "
            f"TIMESTAMPTZ '2026-01-01 00:00:00+00' AS ts FROM {source}")


def markup_kind(seed, ident="id"):
    """0 Person with nested Org, 1 Article, 2 Order with itemref, 3 plain."""
    return f"(({ident}) + {seed_key(seed)}) % 4"


def markup(seed, lo, hi, n_convs):
    """`markup` turns for ids [lo, hi), shaped like Transcripts.synthetic: a
    quarter of the turns carry no markup; a tenth land in the 1% hot
    conversations."""
    hot = max(n_convs // 100, 1)
    person = (f"printf('Profile: <div itemscope itemtype=\"http://schema.org/Person\" itemid=\"http://ex.org/person/%d\" lang=\"en\"><span itemprop=\"name\">Person %d</span><data itemprop=\"score\" value=\"%d\"/><time itemprop=\"seen\" datetime=\"2026-01-01\">then</time><div itemprop=\"org\" itemscope itemtype=\"http://schema.org/Organization\" itemid=\"http://ex.org/org/%d\"><span itemprop=\"name\">Org %d</span></div><link itemprop=\"additionalType\" href=\"http://ex.org/class/P\"></div>', "
              f"{r(seed, 1)} % {PERSON_IDS}, id, {r(seed, 3)} % 97, {r(seed, 2)} % {ORGS}, {r(seed, 2)} % {ORGS})")
    article = (f"printf('Note: <div itemscope itemtype=\"http://schema.org/Article\"><span itemprop=\"headline\">Headline %d</span><meta itemprop=\"wordCount\" content=\"%d\"><a itemprop=\"url\" href=\"http://ex.org/a/%d\">link</a></div> end.', "
               f"id, {r(seed, 3)} % 1000, id)")
    order = (f"printf('<div itemscope itemtype=\"http://schema.org/Order\" itemid=\"http://ex.org/o/%d\" itemref=\"z%d\"></div><p id=\"z%d\"><span itemprop=\"orderStatus\">S%d</span></p>', "
             f"id, id, id, {r(seed, 4)} % 50)")
    plain = "printf('Plain chat turn %d with no structured data.', id)"
    kind = markup_kind(seed)
    text = f"CASE {kind} WHEN 0 THEN {person} WHEN 1 THEN {article} WHEN 2 THEN {order} ELSE {plain} END"
    conv = (f"CASE WHEN {r(seed, 5)} % 10 = 0 THEN 'hot-' || CAST({r(seed, 6)} % {hot} AS VARCHAR) "
            f"ELSE 'conv-' || CAST(id % {n_convs} AS VARCHAR) END")
    return _turns(conv, "id", text, f"range({lo}, {hi}) t(id)")


MENTION = ("printf('Contact card: <div itemscope itemtype=\"http://schema.org/Person\"><span itemprop=\"name\">Entity %d</span>"
           "<span itemprop=\"contact\">key-%d-%d</span><span itemprop=\"contact\">key-%d-%d</span></div>', id, id, j, id, j + 1)")


def mention_count(seed, ident="id"):
    """Entity e has 2 + r(e, 8) mod 3 mentions in the standing corpus."""
    return f"(2 + {r(seed, 8, ident)} % 3)"


def mentions(seed, lo, hi):
    """Anonymous Person mentions of entities [lo, hi): mention j holds contact
    keys (e, j) and (e, j+1), so an entity's mentions link only through a
    chain of shared keys (multi-hop components)."""
    src = (f"(SELECT id, unnest(generate_series(1, {mention_count(seed)})) AS j "
           f"FROM range({lo}, {hi}) t(id))")
    return _turns("'mconv-' || CAST(id % 1000 AS VARCHAR)", "id * 16 + j", MENTION, src)


def chain_extensions(seed, n_entities, fold, n_folds):
    """Fold f's new mention of each standing entity e with r(e, 9) mod
    n_folds = f: it extends the chain end, sharing key (e, m_e + 1)."""
    src = (f"(SELECT id, {mention_count(seed)} + 1 AS j FROM range(0, {n_entities}) t(id) "
           f"WHERE {r(seed, 9)} % {n_folds} = {fold})")
    return _turns("'mconv-' || CAST(id % 1000 AS VARCHAR)", "id * 16 + j", MENTION, src)


def manager(seed, fanout, attach_below, ident="id"):
    """Manager of employee k >= 1: r(k, 10) mod ceil(k / fanout) below
    `attach_below` (a wide, shallow tree), else r(k, 10) mod attach_below."""
    k = f"({ident})"
    return (f"CASE WHEN {k} < {attach_below} THEN {r(seed, 10, ident)} % (({k} + {fanout - 1}) // {fanout}) "
            f"ELSE {r(seed, 10, ident)} % {attach_below} END")


def org_cards(seed, lo, hi, fanout, attach_below):
    link = (f"CASE WHEN id > 0 THEN printf('<link itemprop=\"reportsTo\" href=\"http://ex.org/emp/%d\">', "
            f"{manager(seed, fanout, attach_below)}) ELSE '' END")
    text = (f"printf('Org card: <div itemscope itemtype=\"http://schema.org/Person\" itemid=\"http://ex.org/emp/%d\">"
            f"<span itemprop=\"name\">Emp %d</span>%s</div>', id, id, {link})")
    return _turns("'oconv-' || CAST(id % 100 AS VARCHAR)", "id", text, f"range({lo}, {hi}) t(id)")


def schema_decls(transitive):
    decls = [(SCHEMA + "reportsTo", "http://www.w3.org/2002/07/owl#inverseOf", "http://ex.org/manages"),
             (SCHEMA + "contact", "http://www.w3.org/2000/01/rdf-schema#subPropertyOf", "http://ex.org/identifier"),
             (SCHEMA + "name", "http://www.w3.org/2002/07/owl#equivalentProperty", "http://xmlns.com/foaf/0.1/name"),
             (SCHEMA + "Person", "http://www.w3.org/2000/01/rdf-schema#subClassOf", "http://ex.org/Agent")]
    if transitive:
        decls.append((SCHEMA + "reportsTo", RDF_TYPE, "http://www.w3.org/2002/07/owl#TransitiveProperty"))
    return decls


def schema(transitive):
    """Schema turns with absolute-IRI itemprops (the TransitiveProperty
    declaration only in the batch-build corpus: incremental closure refuses
    it)."""
    rows = " UNION ALL ".join(
        f"SELECT {i} AS i, 'Schema: <div itemscope itemid=\"{s}\"><link itemprop=\"{p}\" href=\"{o}\"></div>' AS t"
        for i, (s, p, o) in enumerate(schema_decls(transitive)))
    return _turns("'schema'", "i", "t", f"({rows})")


def params(seed):
    """The parameters KgBench reads from params.json: the seed as the
    generators use it, the fold count and the sizes its queries name."""
    return {"seed_key": seed_key(seed), "folds": FOLDS,
            "markup_turns": MARKUP_TURNS, "entities": ENTITIES, "fanout": FANOUT}


def generate(con, workload, seed, out):
    """Write every input of one run under `out`."""
    def write(sql, name):
        d = os.path.join(out, name)
        os.makedirs(d)
        con.execute(f"COPY ({sql}) TO '{os.path.join(d, 'part-0.parquet')}' (FORMAT PARQUET)")

    os.makedirs(out)
    with open(os.path.join(out, "params.json"), "w") as f:
        json.dump(params(seed), f)
    n_folds = FOLDS
    if workload == "markup":
        n, d = MARKUP_TURNS, MARKUP_DELTA_TURNS
        convs = n // 20
        write(markup(seed, 0, n, convs), "corpus")
        for f in range(n_folds):
            write(markup(seed, n + f * d, n + (f + 1) * d, convs), f"deltas/fold={f}")
    else:
        people = (f"{mentions(seed, 0, ENTITIES)} UNION ALL "
                  f"{org_cards(seed, 0, EMPLOYEES, FANOUT, EMPLOYEES)}")
        write(f"{people} UNION ALL {schema(True)}", "build")
        write(f"{people} UNION ALL {schema(False)}", "base")
        write(f"{mentions(seed, 0, WARM_ENTITIES)} UNION ALL "
              f"{org_cards(seed, 0, WARM_EMPLOYEES, FANOUT, WARM_EMPLOYEES)} UNION ALL "
              f"{schema(True)}", "warm")
        for f in range(n_folds):
            e0 = ENTITIES + f * DELTA_ENTITIES
            k0 = EMPLOYEES + f * DELTA_EMPLOYEES
            write(f"{chain_extensions(seed, ENTITIES, f, n_folds)} UNION ALL "
                  f"{mentions(seed, e0, e0 + DELTA_ENTITIES)} UNION ALL "
                  f"{org_cards(seed, k0, k0 + DELTA_EMPLOYEES, FANOUT, EMPLOYEES)}",
                  f"deltas/fold={f}")
