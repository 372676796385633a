"""Seeded input generators for the graft benchmark.

Everything the engine reads in a benchmark run is made here from the
run's seed, with DuckDB, so the same seed always gives the same inputs:

- ``write_tables``: the TPC-H-ish tables the model project reads
  (customer, part, orders, lineitem) at scale factor 0.01.
- ``write_corpus``: the curation corpus: 5,000 documents with planted
  exact and near duplicates, whose ids are returned, and 2,000 64-d
  embeddings.
- ``model_project``: a dbt-style project over those tables, with
  the facts the benchmark checks (row counts, ASSERT outcomes, the
  slim-CI rebuild set).
"""
import hashlib
import os
import random

SF = 0.01
DOCS = 5000
VECS = 2000
DIM = 64
LEVELS = 5


def _connect():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET enable_progress_bar=false")
    return con


def _u(seed, salt, expr="i"):
    """DuckDB expression: a uniform double in [0, 1) from (row, seed, salt)."""
    return f"((hash({expr}, {int(seed)}, {int(salt)}) % 1000003) / 1000003.0)"


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def write_tables(out_dir, seed):
    """The TPC-H-ish tables the model project reads, at scale factor
    ``SF`` (lineitem has 6,000,000 × SF rows), one parquet file each, with
    the value domains of the repository's test data."""
    os.makedirs(out_dir, exist_ok=True)
    con = _connect()
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")
    u = lambda salt, e="i": _u(seed, salt, e)
    rows = lambda n: int(n * SF)
    _copy(con, f"""SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
        CAST(floor({u(1)} * 25) AS INTEGER) AS c_nationkey,
        round(-999.99 + {u(2)} * 10999.98, 2) AS c_acctbal,
        ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'][1 + CAST(floor({u(3)} * 5) AS INTEGER)] AS c_mktsegment
        FROM range({rows(150000)}) t(i)""", p("customer"))
    _copy(con, f"""SELECT i AS p_partkey,
        ['blue', 'old', 'small', 'new', 'large', 'hot', 'cold', 'red'][1 + CAST(floor({u(6)} * 8) AS INTEGER)]
          || ' ' || ['widget', 'gizmo', 'ring', 'gear', 'bolt', 'plate', 'rod', 'anvil'][1 + CAST(floor({u(7)} * 8) AS INTEGER)] AS p_name,
        'Brand#' || (1 + CAST(floor({u(8)} * 25) AS INTEGER)) AS p_brand,
        ['LARGE', 'ECONOMY', 'STANDARD', 'SMALL', 'MEDIUM', 'PROMO'][1 + CAST(floor({u(9)} * 6) AS INTEGER)] AS p_type,
        1 + CAST(floor({u(10)} * 50) AS INTEGER) AS p_size,
        round(900 + (i % 1000) / 10.0, 2) AS p_retailprice
        FROM range({rows(200000)}) t(i)""", p("part"))
    _copy(con, f"""SELECT i AS o_orderkey, CAST(floor({u(11)} * {rows(150000)}) AS BIGINT) AS o_custkey,
        ['O', 'F', 'P'][1 + CAST(floor({u(12)} * 3) AS INTEGER)] AS o_orderstatus,
        round(1000 + {u(13)} * 499000, 2) AS o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(CAST(floor({u(14)} * 2404) AS INTEGER)) AS o_orderdate,
        ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'][1 + CAST(floor({u(15)} * 5) AS INTEGER)] AS o_orderpriority
        FROM range({rows(1500000)}) t(i)""", p("orders"))
    _copy(con, f"""SELECT CAST(floor({u(16)} * {rows(1500000)}) AS BIGINT) AS l_orderkey,
        CAST(floor({u(17)} * {rows(200000)}) AS BIGINT) AS l_partkey,
        CAST(floor({u(18)} * {rows(10000)}) AS BIGINT) AS l_suppkey,
        1 + CAST(floor({u(19)} * 7) AS INTEGER) AS l_linenumber,
        CAST(1 + floor({u(20)} * 50) AS DOUBLE) AS l_quantity,
        round(900 + {u(21)} * 104000, 2) AS l_extendedprice,
        round(floor({u(22)} * 11) / 100.0, 2) AS l_discount,
        round(floor({u(23)} * 9) / 100.0, 2) AS l_tax,
        ['A', 'N', 'R'][1 + CAST(floor({u(24)} * 3) AS INTEGER)] AS l_returnflag,
        ['O', 'F'][1 + CAST(floor({u(25)} * 2) AS INTEGER)] AS l_linestatus,
        TIMESTAMP '1995-01-02' + to_days(CAST(floor({u(26)} * 2498) AS INTEGER)) AS l_shipdate
        FROM range({rows(6000000)}) t(i)""", p("lineitem"))
    con.close()


def _write_documents(con, path, seed):
    """5,000 documents; returns the planted duplicates as
    (exact: [(copy_id, source_id)], near: [(copy_id, source_id)])."""
    nw = len(CORPUS_WORDS)
    u = lambda salt, e="i": _u(seed, salt, e)
    # base texts: 10–100 tokens drawn uniformly from the vocabulary
    con.execute(f"""CREATE OR REPLACE TEMP TABLE base_docs AS
        SELECT i AS doc_id,
          list_transform(range(10 + CAST(floor({u(40)} * 91) AS INTEGER)),
            j -> CAST(hash(i, j, {int(seed)}, 41) % {nw} AS BIGINT)) AS toks
        FROM range({DOCS}) t(i)""")
    # planted duplicates, 1% exact and 1% near: the copy, in the second
    # half, takes a source in the first half; a near copy appends one token
    rng = random.Random(f"corpus-{seed}")
    exact, near = [], []
    ids = rng.sample(range(DOCS // 2, DOCS), DOCS // 50)
    for k, cid in enumerate(ids):
        src = rng.randrange(0, DOCS // 2)
        (exact if k % 2 == 0 else near).append((cid, src))
    con.execute("CREATE OR REPLACE TEMP TABLE planted(cid BIGINT, src BIGINT, kind VARCHAR)")
    con.executemany("INSERT INTO planted VALUES (?, ?, ?)",
                    [(c, s, "exact") for c, s in exact] + [(c, s, "near") for c, s in near])
    con.execute(f"""CREATE OR REPLACE TEMP TABLE docs_toks AS
        SELECT d.doc_id, CASE
            WHEN p.kind = 'exact' THEN s.toks
            WHEN p.kind = 'near' THEN list_concat(s.toks, [CAST(hash(d.doc_id, 43) % {nw} AS BIGINT)])
            ELSE d.toks END AS toks
        FROM base_docs d LEFT JOIN planted p ON p.cid = d.doc_id
        LEFT JOIN base_docs s ON s.doc_id = p.src""")
    con.execute("CREATE OR REPLACE TEMP TABLE vocab(k BIGINT, w VARCHAR)")
    con.executemany("INSERT INTO vocab VALUES (?, ?)", list(enumerate(CORPUS_WORDS)))
    _copy(con, f"""WITH tok AS (
          SELECT doc_id, unnest(toks) AS t, generate_subscripts(toks, 1) AS pos FROM docs_toks),
        txt AS (
          SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS text
          FROM tok JOIN vocab ON vocab.k = tok.t GROUP BY doc_id)
        SELECT doc_id, text,
          ['en', 'en', 'en', 'zh', 'de', 'fr', 'es'][1 + CAST(floor({u(45, 'doc_id')} * 7) AS INTEGER)] AS lang,
          'src' || (doc_id % 20) AS source, CAST(length(text) AS BIGINT) AS n_chars
        FROM txt ORDER BY doc_id""", path)
    return exact, near


def _write_embeddings(con, path, seed):
    """2,000 unit vectors in 64 dims around 10 label centroids."""
    # Box–Muller normals from two uniforms; one centroid per label
    gauss = lambda salt, e: (f"(sqrt(-2 * ln(1 - {_u(seed, salt, e)})) "
                             f"* cos(2 * pi() * {_u(seed, salt + 1, e)}))")
    _copy(con, f"""WITH lab AS (
          SELECT i AS vec_id, CAST(hash(i, {int(seed)}, 50) % 10 AS INTEGER) AS label,
            hash(i, {int(seed)}, 50) % 10 AS c
          FROM range({VECS}) t(i)),
        raw AS (
          SELECT vec_id, label, list_transform(range({DIM}),
            j -> {gauss(51, 'c, j')} + 0.8 * {gauss(53, 'vec_id, j')}) AS v
          FROM lab)
        SELECT vec_id,
          CAST(list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS FLOAT[]) AS embedding,
          label
        FROM raw ORDER BY vec_id""", path)


def write_corpus(out_dir, seed):
    """The curation corpus; returns the planted duplicates (see module doc)."""
    os.makedirs(out_dir, exist_ok=True)
    con = _connect()
    exact, near = _write_documents(con, os.path.join(out_dir, "documents.parquet"), seed)
    _write_embeddings(con, os.path.join(out_dir, "embeddings.parquet"), seed)
    con.close()
    return {"exact": exact, "near": near}


# the curation corpus draws from a 5,000-word vocabulary, so that two
# unrelated documents rarely share a bigram shingle, as in natural text
CORPUS_WORDS = [a + b + c for a in (x + y for x in "bdfgklmnprstvz" for y in "aeiou")
                for b in (x + y for x in "bdfgklmnprstvz" for y in "aeiou")
                for c in "lmnrst"][:5000]


def content_hash(path):
    """Order-independent hash of a parquet file's rows."""
    import duckdb
    con = duckdb.connect()
    rows = con.execute(f"SELECT * FROM read_parquet('{path}')").fetchall()
    con.close()
    h = hashlib.sha256()
    for r in sorted(repr(r) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


def model_project(out_dir, tables_dir, seed):
    """A dbt-style project of ``LEVELS`` levels × 7 models over the tables
    in ``tables_dir``. Each level has one heavy lineitem⋈orders table model, a
    row_number() top-k, an aggregate, two filters, a diamond (a join of
    two models that share an ancestor) and a union; four of the seven are
    tables. The shape is the same for every seed, so the
    work per run is too; the seed picks every filter constant, the top-k
    size and the models the tests assert on.

    Every model has the columns (key, grp, val, n). Writes
    ``powersql.toml``, ``models/*.sql`` and ``tests/*.sql``; returns the
    facts the benchmark checks: row counts (computed by DuckDB on the same
    parquet), the ASSERT messages and the ones expected to fail, the file
    and two variants of the model that each cycle edits, and the models
    the slim-CI run must rebuild.
    """
    rng = random.Random(f"model_project-{seed}")
    sources = [
        ("orders", "o_orderkey", "o_orderpriority", "o_totalprice", "CAST(1 AS BIGINT)"),
        ("customer", "c_custkey", "c_mktsegment", "c_acctbal", "CAST(1 AS BIGINT)"),
        ("lineitem", "l_orderkey", "l_returnflag", "l_extendedprice", "CAST(l_linenumber AS BIGINT)"),
        ("part", "p_partkey", "p_brand", "p_retailprice", "CAST(p_size AS BIGINT)"),
    ]
    # slot k of a level reads slot k of the level before (plus a partner
    # slot for the diamond and the union)
    slots = [("heavy", "TABLE"), ("topk", "VIEW"), ("agg", "TABLE"), ("filter", "VIEW"),
             ("diamond", "TABLE"), ("union", "VIEW"), ("filter", "TABLE")]
    partner = {"diamond": 0, "union": 1}
    models = {}   # name -> (kind, sql, parents)
    name = lambda lv, k: f"m{lv}_{k}"
    for lv in range(LEVELS):
        for k, (shape, kind) in enumerate(slots):
            m, r = rng.randint(4, 6), rng.randint(0, 2)
            p = name(lv - 1, k)
            if lv == 0:
                t, key, grp, val, n = sources[k % len(sources)]
                sql = (f"SELECT {key} AS key, {grp} AS grp, {val} AS val, {n} AS n "
                       f"FROM {t} WHERE {key} % {m} <> {r}")
                parents = []
            elif shape == "heavy":
                sql = (f"SELECT l_orderkey % 20000 AS key, o_orderpriority AS grp, "
                       f"SUM(l_extendedprice) AS val, COUNT(*) AS n "
                       f"FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
                       f"WHERE l_partkey % {m} <> {r} "
                       f"AND o_orderkey % 7 <> (SELECT COUNT(*) FROM {p}) % 7 "
                       f"GROUP BY l_orderkey % 20000, o_orderpriority")
                parents = [p]
            elif shape == "topk":
                # the row_number() <= k idiom graft.plans rewrites
                sql = (f"SELECT key, grp, val, n FROM (SELECT key, grp, val, n, "
                       f"ROW_NUMBER() OVER (PARTITION BY grp ORDER BY val DESC, key) AS rn "
                       f"FROM {p}) t WHERE rn <= {rng.randint(50, 100)}")
                parents = [p]
            elif shape == "agg":
                sql = (f"SELECT key % {97 + 10 * m} AS key, grp, SUM(val) AS val, "
                       f"SUM(n) AS n FROM {p} GROUP BY key % {97 + 10 * m}, grp")
                parents = [p]
            elif shape == "filter":
                sql = f"SELECT key, grp, val, n FROM {p} WHERE key % {m} <> {r}"
                parents = [p]
            else:
                q = name(lv - 1, partner[shape])
                if shape == "diamond":
                    sql = (f"SELECT a.key, a.grp, a.val + b.val AS val, a.n + b.n AS n "
                           f"FROM {p} a JOIN {q} b ON a.key = b.key AND a.grp = b.grp")
                else:
                    sql = (f"SELECT key, grp, val, n FROM {p} WHERE key % 2 = 0 "
                           f"UNION ALL SELECT key, grp, val, n FROM {q} WHERE key % 2 = 1")
                parents = [p, q]
            models[name(lv, k)] = (kind, sql, parents)

    # each cycle edits the big filter table of the middle level
    edited = name(LEVELS // 2, 6)
    kind, sql, _ = models[edited]
    variants = [sql, sql + " AND key >= 0"]
    children = {n: [c for c, (_, _, ps) in models.items() if n in ps] for n in models}
    rebuilt, stack = {edited}, [edited]
    while stack:
        for c in children[stack.pop()]:
            if c not in rebuilt:
                rebuilt.add(c)
                stack.append(c)

    # row counts from DuckDB on the same parquet
    con = _connect()
    for t, *_ in sources:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(tables_dir, t)}.parquet')")
    rows = {}
    for n, (_, q, _) in models.items():
        con.execute(f"CREATE TABLE {n} AS {q}")
        rows[n] = con.execute(f"SELECT COUNT(*) FROM {n}").fetchone()[0]
    con.close()

    os.makedirs(os.path.join(out_dir, "models"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "tests"), exist_ok=True)
    with open(os.path.join(out_dir, "powersql.toml"), "w") as f:
        f.write('[project]\nname = "perfbench"\nmodels = ["models"]\ntests = ["tests"]\n')
    for n, (kind, q, _) in models.items():
        with open(os.path.join(out_dir, "models", f"{n}.sql"), "w") as f:
            f.write(f"CREATE {kind} {n} AS {q};\n")
    # one ASSERT on the exact row count of every model; three are off by
    # one on purpose and must fail
    failing = set(rng.sample(sorted(models), 3))
    asserts, messages, expect_fail = [], [], []
    for n in models:
        want = rows[n] + (1 if n in failing else 0)
        msg = f"{n} has {want} rows"
        asserts.append(f"ASSERT (SELECT COUNT(*) FROM {n}) = {want} AS '{msg}';")
        messages.append(msg)
        if n in failing:
            expect_fail.append(msg)
    with open(os.path.join(out_dir, "tests", "row_counts.sql"), "w") as f:
        f.write("\n".join(asserts) + "\n")
    return {
        "row_counts": rows,
        "tests": sorted(messages),
        "expect_fail": sorted(expect_fail),
        "edit": {"file": f"models/{edited}.sql",
                 "variants": [f"CREATE {kind} {edited} AS {v};\n" for v in variants]},
        "rebuilt": sorted(rebuilt),
        "models": len(models),
    }
