"""Correctness checks of one benchmark run.

``verify`` returns (problems, per-operation ok flags). An operation counts
as failed when it threw, or when its result is wrong: for a curation
entry, when its row count differs from the checked output of the same
entry or that output is wrong; for a model command, when its ASSERT
outcomes or its rebuilt models differ from the generator's truth.
"""
import glob
import json
import os

# corpus entries whose DuckDB oracle recomputes the answer from the data
# (some other entries' oracles pin invariants of the fixed sf0.1 corpus)
CORPUS_ORACLES = {"d2_dedup_minhash", "d6_dedup_clusters", "s8_bm25", "t12_tfidf"}


def _canon(con, sql):
    """scripts/verify_local.py's canonical form: columns sorted by name,
    floats rounded to 6 places, values as text, rows sorted."""
    df = con.execute(sql).df()
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    df = df.astype(str).sort_values(by=list(df.columns)).reset_index(drop=True)
    return list(df.columns), [tuple(r) for r in df.itertuples(index=False)]


def _duck(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(t)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    return con


def _dump(out, name):
    return f"read_parquet('{os.path.join(out, 'verify', name)}/*.parquet')"


def _oracle_problems(con, out, names):
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    bad = {}
    for n in names:
        if n not in oracles:
            bad[n] = "no oracle"
            continue
        try:
            if _canon(con, f"SELECT * FROM {_dump(out, n)}") != _canon(con, oracles[n]):
                bad[n] = "differs from the DuckDB oracle"
        except Exception as e:  # an unreadable dump is a wrong result
            bad[n] = f"{type(e).__name__}: {e}"[:200]
    return bad


def verify(workload, rec, truth, inputs, out):
    ops = rec["ops"]
    problems = [f"{o['name']}: {o['error']}" for o in ops if not o["ok"]]
    if workload == "corpus_curation":
        verified = rec["verify"]
        con = _duck(os.path.join(inputs, "corpus"))
        bad = _oracle_problems(con, out, [n for n in verified if n in CORPUS_ORACLES])
        expected_rows = {"fn_minhash": truth["docs"], "fn_simhash": truth["docs"],
                         "fn_dot": truth["vecs"]}
        for n, r in expected_rows.items():
            if verified.get(n) != r:
                bad[n] = f"{verified.get(n)} rows, expected {r}"
        bad.update(_recall_problems(con, out, truth))
        problems += [f"{n}: {m}" for n, m in bad.items()]
        parts = lambda n: list(expected_rows) if n == "fn_hashes" else [n]
        ok = [o["ok"] and not any(p in bad for p in parts(o["name"]))
              and o["rows"] == sum(verified.get(p, -1) for p in parts(o["name"]))
              for o in ops]
    else:
        # every model's row count is asserted, so the ASSERT outcomes
        # check the row counts too; each test and slim_ci operation carries
        # its own outcome in "detail"
        fails = set(truth["expect_fail"])
        want = {"test": "|".join(sorted(f"{m}...{'ERROR' if m in fails else 'OK'}"
                                        for m in truth["tests"])),
                "slim_ci": ",".join(truth["rebuilt"])}
        ok = []
        for o in ops:
            good = o["ok"]
            if o["name"] in want and o["detail"] != want[o["name"]]:
                good = False
                problems.append(f"{o['name']}: got {o['detail']}, expected {want[o['name']]}"[:300])
            ok.append(good)
        if "layers" in rec:
            ratio = len(truth["rebuilt"]) / truth["models"]
            if abs(rec["layers"]["model.rebuilt_ratio"] - ratio) > 1e-9:
                problems.append(f"model.rebuilt_ratio {rec['layers']['model.rebuilt_ratio']}, "
                                f"expected {ratio}")
    return problems, ok


def _recall_problems(con, out, truth):
    """Every planted duplicate must land in its source's d6 cluster, and
    every planted near duplicate must be paired with its source by d2."""
    bad = {}
    planted = truth["exact"] + truth["near"]
    con.execute("CREATE OR REPLACE TEMP TABLE planted(cid BIGINT, src BIGINT)")
    con.executemany("INSERT INTO planted VALUES (?, ?)", planted)
    found = con.execute(f"""SELECT COUNT(*) FROM planted p
        JOIN {_dump(out, 'd6_dedup_clusters')} a ON a.doc_id = p.cid
        JOIN {_dump(out, 'd6_dedup_clusters')} b ON b.doc_id = p.src
        WHERE a.cluster_id = b.cluster_id""").fetchone()[0]
    if found != len(planted):
        bad["d6_dedup_clusters"] = f"clustered {found} of {len(planted)} planted duplicates"
    con.execute("CREATE OR REPLACE TEMP TABLE planted_near(a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO planted_near VALUES (?, ?)",
                    [(min(c, s), max(c, s)) for c, s in truth["near"]])
    found = con.execute(f"""SELECT COUNT(*) FROM planted_near p
        JOIN {_dump(out, 'd2_dedup_minhash')} r ON r.id_a = p.a AND r.id_b = p.b""").fetchone()[0]
    if found != len(truth["near"]):
        bad["d2_dedup_minhash"] = f"paired {found} of {len(truth['near'])} planted near duplicates"
    return bad
