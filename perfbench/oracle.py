"""DuckDB oracle checks over a run's generated data and outputs.

curation_flow: every step's output against the registered oracle SQL
of its query (`SparkEntry.oracleSql`), compared the way tools/check.py
compares: columns by name, rows sorted, values exact.

serve_mix: every sampled app response against a DuckDB twin of the
app query, over the parquet files the run served from.
"""
import glob
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd


def _canon(df):
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v.tolist()) if isinstance(v, np.ndarray)
                else tuple(v) if isinstance(v, list) else v)
    return df


def _frames_equal(got, want):
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    g = _canon(got)[gc].sort_values(gc, kind="mergesort").reset_index(drop=True)
    w = _canon(want)[wc].sort_values(wc, kind="mergesort").reset_index(drop=True)
    bad = []
    for c in gc:
        a, b = g[c], w[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            ok = np.isclose(a.astype(float), b.astype(float), rtol=0, atol=0,
                            equal_nan=True).all()
        else:
            ok = (a.astype(object).where(pd.notna(a), None)
                  == b.astype(object).where(pd.notna(b), None)).all()
        if not ok:
            bad.append(c)
    return f"value mismatch in {bad}" if bad else None


def _connect(data):
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    return con


def _clusters(con, sql):
    """q92's oracle with its recursive closure replaced by union-find.

    The registered SQL labels each doc with the least id reachable over
    the near-dup pair graph through a recursive transitive closure,
    which DuckDB needs ~15 s for at this corpus size. The pair set `pr`
    is computed by the registered SQL itself; union-find over it gives
    the same least reachable id.
    """
    cut = sql.index(", edges AS (")
    pairs = con.sql(sql[:cut] + " SELECT da, db FROM pr").fetchall()
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    label = {v: find(v) for v in list(parent)}
    size = {}
    for c in label.values():
        size[c] = size.get(c, 0) + 1
    rows = sorted((c, v, size[c], v == c) for v, c in label.items())
    return pd.DataFrame(rows, columns=["cluster_id", "doc_id", "cluster_size", "keep"])


# registered oracles whose SQL is replaced by an equivalent evaluation
EVALUATORS = {"q92_dedup_clusters": _clusters}


def curation(work, jobs):
    con = _connect(os.path.join(work, "data"))
    failures = []
    for name, job in sorted(jobs.items()):
        try:
            got = con.sql(f"SELECT * FROM '{job['dir']}/*.parquet'").df()
            if name in EVALUATORS:
                want = EVALUATORS[name](con, job["sql"])
            else:
                want = con.sql(job["sql"]).df()
            err = _frames_equal(got, want)
        except Exception as e:  # a failing oracle is a failed check
            err = f"oracle error: {e}"
        if err:
            failures.append(f"{name}: {err}")
    return failures


SERVE_SQL = {
    "stats": """SELECT count(*) AS n_ratings, round(avg(rating), 4) AS avg_rating
        FROM ratings_u WHERE userId = $arg""",
    "recent": """SELECT userId, tconst, rating, epoch_us(ratedAt) AS ratedAt
        FROM ratings_u WHERE userId = $arg
        ORDER BY ratedAt DESC, tconst LIMIT 5""",
    "saved": """SELECT r.tconst, r.userId, r.predictedRating, r.rank,
          b.primaryTitle AS title, b.genres
        FROM recs r LEFT JOIN basics b USING (tconst) WHERE r.userId = $arg
        ORDER BY r.predictedRating DESC, r.tconst LIMIT 50""",
    "popular": """SELECT * FROM (
          SELECT b.tconst, b.primaryTitle AS title, b.genres,
            CAST(b.startYear AS INTEGER) AS year, r.averageRating AS imdb_rating,
            r.numVotes AS votes
          FROM basics b JOIN ratings r USING (tconst)
          WHERE b.titleType = 'movie' AND b.isAdult = 0
            AND regexp_matches(b.startYear, '^[0-9]+$')
            AND CAST(b.startYear AS INTEGER) >= 1980 AND r.numVotes >= 25000
            AND r.averageRating >= 6.5
          ORDER BY votes DESC, tconst LIMIT 100)
        WHERE contains(lower(genres), lower($arg))""",
}


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=0, abs_tol=0)
    return a == b


def serve(work, spec):
    d = spec["dir"]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW ratings_u AS SELECT * FROM "
            f"'{d}/user_ratings.parquet/*.parquet'")
    con.sql(f"CREATE VIEW recs AS SELECT * FROM '{d}/recommendations/*.parquet'")
    con.sql(f"CREATE VIEW basics AS SELECT * FROM "
            f"'{d}/imdb/title_basics.parquet/*.parquet'")
    con.sql(f"CREATE VIEW ratings AS SELECT * FROM "
            f"'{d}/imdb/title_ratings.parquet/*.parquet'")
    failures = []
    for c in spec["checks"]:
        rel = con.execute(SERVE_SQL[c["kind"]], {"arg": c["arg"]})
        cols = [x[0] for x in rel.description]
        want = [dict(zip(cols, r)) for r in rel.fetchall()]
        got = c["rows"]
        ok = len(got) == len(want) and all(
            sorted(g) == sorted(w) and all(_same(g[k], w[k]) for k in w)
            for g, w in zip(got, want))
        if not ok:
            failures.append(f"{c['kind']}({c['arg']}): engine {got[:3]} "
                            f"vs oracle {want[:3]}")
    return failures


def check(work):
    """Runs every oracle check the run asked for; returns failures."""
    failures = []
    jobs = os.path.join(work, "oracle_jobs.json")
    if os.path.exists(jobs):
        with open(jobs) as f:
            failures += curation(work, json.load(f))
    serve_spec = os.path.join(work, "serve_checks.json")
    if os.path.exists(serve_spec):
        with open(serve_spec) as f:
            failures += serve(work, json.load(f))
    return failures
