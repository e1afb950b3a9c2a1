"""Output checks of the perfbench workloads, run once per run outside the
timed region. Each returns a list of (name, ok, detail).

  etl_daily     the final images sink, sessions table, image_urls report
                and door corpus must hash-match what DuckDB (and, for the
                near-duplicate door, an exact Jaccard replay) computes from
                the same generated inputs; the MinHash index must hold
                exactly the corpus ids.
  query_mix     every result with a SparkEntry.oracleSql entry must equal
                DuckDB's answer row for row (columns sorted by name, rows
                sorted, values compared at full precision).
  llm_curation  the approximate operators must reach their recall floors.
"""
import datetime
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
COUNTRIES = ["KE", "UG", "TZ", "RW", "ET", "NG", "GH", "ZA", "ZM", "MW"]

# Recall floors of the approximate curation operators.
FLOORS = {"ivfpq_recall": 0.40, "lsh_recall": 0.80, "dedup_pair_recall": 0.95}


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return repr(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def digest(cols, rows):
    c, r = canon(cols, rows)
    h = hashlib.md5(repr((c, r)).encode()).hexdigest()
    return h, len(r)


def fetch(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def compare(name, con, expected_sql, actual_sql):
    try:
        e = digest(*fetch(con, expected_sql))
        a = digest(*fetch(con, actual_sql))
    except Exception as ex:  # a missing or unreadable output is a mismatch
        return (name, False, "exception: %s" % ex)
    return (name, e == a, "expected %s rows %s, got %s rows %s" % (
        e[1], e[0][:8], a[1], a[0][:8]))


def _landed(data, kind, days):
    parts = []
    for cc in COUNTRIES:
        parts.append(
            "SELECT * EXCLUDE (filename), '%s' AS country_code, "
            "CAST(regexp_extract(filename, 'day=([0-9]+)', 1) AS INT) AS day "
            "FROM read_parquet('%s/%s/%s/*/*.parquet', filename = true, "
            "hive_partitioning = false)"
            % (cc, data, kind, cc))
    return ("SELECT * FROM (%s) WHERE day < %d"
            % (" UNION ALL BY NAME ".join(parts), days))


def _bool(c):
    return ("CASE WHEN {c} = 'True' THEN '1' WHEN {c} = 'False' THEN '0' "
            "ELSE {c} END AS {c}").format(c=c)


def _shingles(text):
    w = text.split(" ")
    return frozenset(" ".join(w[i:i + 3]) for i in range(len(w) - 2))


def _jaccard(a, b):
    return len(a & b) / len(a | b) if (a or b) else 0.0


def door_replay(data, days, threshold=0.5):
    """Exact replay of the indexed dedup door: per batch, in-batch near-dup
    clusters keep their minimum id, ids already in the corpus are dropped,
    and the rest are dropped when any corpus document is a near-dup."""
    con = duckdb.connect()
    corpus = {}
    postings = {}
    for d in range(days):
        rows = con.execute(
            "SELECT DISTINCT doc_id, text FROM read_parquet('%s/docs/day=%02d/*.parquet')"
            % (data, d)).fetchall()
        batch = {i: _shingles(t) for i, t in rows}
        parent = {i: i for i in batch}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        local = {}
        for i, sh in batch.items():
            for g in sh:
                local.setdefault(g, []).append(i)
        for i, sh in batch.items():
            cand = {j for g in sh for j in local[g] if j > i}
            for j in cand:
                if _jaccard(sh, batch[j]) >= threshold:
                    a, b = find(i), find(j)
                    parent[max(a, b)] = min(a, b)
        keep = [i for i in batch if find(i) == i]
        fresh = [i for i in keep if i not in corpus]
        novel = [i for i in fresh if not any(
            _jaccard(batch[i], corpus[j]) >= threshold
            for j in {j for g in batch[i] for j in postings.get(g, ())})]
        for i in novel:
            corpus[i] = batch[i]
            for g in batch[i]:
                postings.setdefault(g, []).append(i)
    return sorted(corpus)


def check_etl(data, out, days):
    state = os.path.join(out, "state")
    con = duckdb.connect()
    con.execute("CREATE VIEW img_in AS " + _landed(data, "images", days))
    con.execute("CREATE VIEW ses_in AS " + _landed(data, "sessions", days))
    img_cols = ["image_id", "session_id", "image_names", "url_base",
                "captured_at", "is_valid", "country_code"]
    proj = ", ".join(_bool(c) if c in ("image_names", "url_base", "is_valid",
                                       "country_code") else c for c in img_cols)
    con.execute(
        "CREATE VIEW img_exp AS SELECT DISTINCT %s FROM img_in "
        "WHERE image_names <> '' OR image_names IS NULL" % proj)
    ses_cols = ["session_id", "customer_id", "status", "started_at",
                "is_flagged", "country_code"]
    sproj = ", ".join(_bool(c) if c in ("status", "is_flagged", "country_code")
                      else c for c in ses_cols)
    con.execute(
        "CREATE VIEW ses_exp AS SELECT %s FROM ses_in QUALIFY row_number() "
        "OVER (PARTITION BY session_id ORDER BY day DESC) = 1" % sproj)
    res = [
        compare("etl.images", con, "SELECT * FROM img_exp",
                "SELECT %s FROM '%s/images/*.parquet'" % (", ".join(img_cols), state)),
        compare("etl.sessions", con, "SELECT * FROM ses_exp",
                "SELECT %s FROM '%s/sessions/*.parquet'" % (", ".join(ses_cols), state)),
        compare("etl.report", con,
                "SELECT i.image_id, i.session_id, s.customer_id, i.country_code, "
                "CAST(date_trunc('day', i.captured_at) AS TIMESTAMP) AS day, "
                "list_transform(string_split(i.image_names, ','), n -> i.url_base || n) "
                "AS image_urls, i.url_base || string_split(i.image_names, ',')[1] "
                "AS first_url FROM img_exp i JOIN ses_exp s USING (session_id) "
                "WHERE s.status = 'completed'",
                "SELECT image_id, session_id, customer_id, country_code, "
                "CAST(day AS TIMESTAMP) AS day, image_urls, first_url "
                "FROM '%s/report/*.parquet'" % state),
    ]
    expected = door_replay(data, days)
    got = sorted(r[0] for r in con.execute(
        "SELECT doc_id FROM '%s/corpus/*.parquet'" % state).fetchall())
    res.append(("etl.door_corpus", got == expected,
                "expected %d ids, got %d" % (len(expected), len(got))))
    idx = sorted(r[0] for r in con.execute(
        "SELECT id FROM '%s/index_docs/*.parquet'" % out).fetchall())
    res.append(("etl.index_docs", idx == expected,
                "expected %d ids, got %d" % (len(expected), len(idx))))
    return res


def check_query_mix(data, out):
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, data, t))
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    return [compare(name, con, sql, "SELECT * FROM '%s/qm/%s/*.parquet'" % (out, name))
            for name, sql in sorted(oracle.items())]


def check_llm(result):
    q = result.get("quality", {})
    return [(k, q.get(k, 0.0) >= floor, "%s=%.4f floor %.2f" % (k, q.get(k, 0.0), floor))
            for k, floor in sorted(FLOORS.items())]
