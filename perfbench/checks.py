"""Correctness checks the runner applies outside the timed region.

- er_two_catalog: DuckDB recomputes the whole pipeline (ingest with the
  reference's line patterns, tokenize, corpus IDF, TF-IDF,
  inverted-index cosine, 101-bin sweep) from the generated files, in the
  SQL of the catalog's q43 oracle; the sweep must match bin by bin, and
  it must hold the sweep's own invariants. The catalog
  query of the pass is compared with its DuckDB oracle by the
  repository's `scripts/check_oracles.py`.
- state_lifecycle: checked inside the harness (the maintain audit after
  every pass, and the one-shot screen identity); the runner reads its
  verdicts.
"""
import math
import os
import re
import subprocess
import sys

# graft.er.ErIngest's line patterns (reference textanalyse/Utils.scala)
PRODUCT_PATTERN = r'^(.+),"(.+)",(.*),(.*),(.*)'
GOLD_PATTERN = r'^(.+),"(.+)'

ER_SQL = r"""
WITH stop AS (SELECT column0 AS w FROM read_csv('{d}/stopwords.txt',
                header = false, columns = {{'column0': 'VARCHAR'}})),
lines AS (SELECT 'a' AS side, line FROM a_lines UNION ALL SELECT 'b', line FROM b_lines),
raw AS (SELECT side, replace(regexp_extract(line, '{P}', 1), '"', '') AS id,
               regexp_extract(line, '{P}', 2) || ' ' || regexp_extract(line, '{P}', 3)
                 || ' ' || regexp_extract(line, '{P}', 4) AS text
        FROM lines
        WHERE regexp_matches(line, '{P}') AND regexp_extract(line, '{P}', 1) <> '"id"'),
tok AS (SELECT side, id, unnest(regexp_split_to_array(lower(text), '\W+')) AS token
        FROM raw),
tk AS (SELECT * FROM tok WHERE token <> '' AND token NOT IN (SELECT w FROM stop)),
tot AS (SELECT side, id, COUNT(*) AS total FROM tk GROUP BY 1, 2),
cnt AS (SELECT side, id, token, COUNT(*) AS cnt FROM tk GROUP BY 1, 2, 3),
idf AS (SELECT token, (SELECT COUNT(*) FROM raw)::DOUBLE / COUNT(DISTINCT (side, id)) AS idf
        FROM tk GROUP BY token),
w AS (SELECT c.side, c.id, c.token, (c.cnt / t.total) * i.idf AS weight
      FROM cnt c JOIN tot t USING (side, id) JOIN idf i USING (token)),
nrm AS (SELECT side, id, SQRT(SUM(weight * weight)) AS norm FROM w GROUP BY 1, 2),
dots AS (SELECT a.id AS id_a, b.id AS id_b, SUM(a.weight * b.weight) AS dot
         FROM w a JOIN w b ON a.token = b.token AND a.side = 'a' AND b.side = 'b'
         GROUP BY 1, 2),
sims AS (SELECT id_a, id_b, dot / (na.norm * nb.norm) AS sim FROM dots
         JOIN nrm na ON na.side = 'a' AND na.id = id_a
         JOIN nrm nb ON nb.side = 'b' AND nb.id = id_b),
gold AS (SELECT replace(regexp_extract(line, '{G}', 1), '"', '') AS id_a,
                replace(regexp_extract(line, '{G}', 2), '"', '') AS id_b
         FROM gold_lines
         WHERE regexp_matches(line, '{G}') AND regexp_extract(line, '{G}', 1) <> '"idAmazon"'),
tagged AS (SELECT CAST(FLOOR(COALESCE(s.sim, 0.0) * 100) AS INTEGER) AS bin,
                  g.id_a IS NOT NULL AS isd
           FROM sims s FULL OUTER JOIN gold g USING (id_a, id_b)),
bins AS (SELECT CAST(t.range AS INTEGER) AS bin,
                COUNT(CASE WHEN x.isd THEN 1 END) AS nd,
                COUNT(CASE WHEN NOT x.isd THEN 1 END) AS nn
         FROM range(0, 101) t LEFT JOIN tagged x ON x.bin = t.range GROUP BY 1),
cum AS (SELECT bin,
          SUM(nd) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
          SUM(nn) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
        FROM bins)
SELECT bin, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       (SELECT COUNT(*) FROM gold) - CAST(tp AS BIGINT) AS fn,
       (SELECT COUNT(*) FROM sims) AS candidates
FROM cum ORDER BY bin
"""


def sweep_invariants(sweep, n_gold):
    """Problems with a sweep `[{bin, tp, fp, fn, ...}]`, as strings."""
    bad = []
    if [r["bin"] for r in sweep] != list(range(101)):
        bad.append("sweep does not have exactly the bins 0..100")
    if any(r["tp"] + r["fn"] != n_gold for r in sweep):
        bad.append("tp + fn != |gold| in some bin")
    for x, y in zip(sweep, sweep[1:]):
        if y["tp"] > x["tp"] or y["fp"] > x["fp"]:
            bad.append(f"tp or fp rises from bin {x['bin']} to {y['bin']}")
            break
    for r in sweep:
        p, rec = r.get("precision"), r.get("recall")
        if p is not None and not 0.0 <= p <= 1.0 or \
                rec is not None and not 0.0 <= rec <= 1.0:
            bad.append(f"precision or recall outside [0, 1] in bin {r['bin']}")
            break
    return bad


def sweep_diff(got, want, edge):
    """Bins of two sweeps `[(bin, tp, fp)]` that differ by more than the
    bin's edge pairs `{bin: n}`, as (got, want) pairs."""
    if len(got) != len(want):
        return [(got, want)]
    return [(g, w) for g, w in zip(got, want)
            if g[0] != w[0] or abs(g[1] - w[1]) + abs(g[2] - w[2]) > edge.get(g[0], 0)]


def _lines(path):
    import pyarrow as pa
    with open(path) as f:
        return pa.table({"line": f.read().splitlines()})


def check_er(data_dir, check, n_gold):
    """Problems with the er_two_catalog check pass, as strings."""
    import duckdb
    cols = check["sweep_columns"]
    sweep = [dict(zip(cols, row)) for row in check["sweep"]]
    bad = sweep_invariants(sweep, n_gold)
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in ("a", "b", "gold"):
        con.register(f"{t}_lines", _lines(os.path.join(data_dir, f"{t}.csv")))
    want = con.execute(ER_SQL.format(d=data_dir, P=PRODUCT_PATTERN, G=GOLD_PATTERN)).fetchall()
    if want and want[0][4] != check["candidate_pairs"]:
        bad.append(f"candidate pairs {check['candidate_pairs']} vs DuckDB {want[0][4]}")
    # a pair whose exact cosine is the bin edge k/100 may fall in bin k
    # or k - 1 in either engine, which moves the cumulative tp or fp of
    # bin k only: bin k may differ by its edge pairs, no other bin at all
    edge = {int(k): v for k, v in check["edge_pairs_by_bin"].items()}
    off = sweep_diff([(r["bin"], r["tp"], r["fp"]) for r in sweep],
                     [tuple(w[:3]) for w in want], edge)
    if off:
        bad.append(f"sweep differs from DuckDB beyond the bin-edge pairs, first at {off[:1]}")
    for r in sweep:
        tp, fp = r["tp"], r["fp"]
        p = tp / (tp + fp) if tp + fp else None
        if (p is None) != (r["precision"] is None) or \
                p is not None and not math.isclose(p, r["precision"], rel_tol=1e-12):
            bad.append(f"precision of bin {r['bin']} is not tp / (tp + fp)")
            break
    return bad


def check_catalog(data_dir, dump_dir, names):
    """Whether every named catalog query's dumped result matches its
    DuckDB oracle, by the repository's oracle comparison script."""
    r = subprocess.run([sys.executable, "scripts/check_oracles.py", data_dir, dump_dir],
                       capture_output=True, text=True)
    passed = set(re.findall(r"^PASS (\S+)", r.stdout, re.M))
    for line in r.stdout.splitlines():
        if line.startswith("FAIL"):
            print(f"[perfbench] oracle {line}", file=sys.stderr)
    return all(n in passed for n in names)
