"""Expected outputs for the benchmark, from the registry's DuckDB oracles.

The oracle SQL of each flagship face (dumped from the library's query
registry at build time) is replayed on the generated inputs with every
common table expression materialised as a temp table, in order: the
same SQL text per CTE, evaluated once instead of once per reference,
which keeps the replay linear in the input. The final rows are rendered
the way the harness renders its own output (see `render`), and the
face's Spark output is compared with tools/check.py's comparison.
"""
import hashlib
import importlib.util
import multiprocessing as mp
import os

import duckdb

# the face whose Spark output each workload's check compares
FACES = {"audio_ingest": "q_pipeline_e2e", "text_corpus": "q_text_curation_e2e"}


def split_ctes(sql):
    """Split a top-level `WITH a AS (...), b AS (...) SELECT ...` into
    ([(name, body), ...], final_select)."""
    s = sql.strip()
    if s[:4].upper() != "WITH":
        return [], s
    i, ctes = 4, []
    while True:
        while s[i].isspace():
            i += 1
        j = i
        while s[j].isalnum() or s[j] == "_":
            j += 1
        name = s[i:j]
        k = s.index("(", s.upper().index("AS", j))
        depth, quote, p = 0, False, k
        while True:
            ch = s[p]
            if quote:
                quote = ch != "'"
            elif ch == "'":
                quote = True
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            p += 1
        ctes.append((name, s[k + 1:p]))
        p += 1
        while s[p].isspace():
            p += 1
        if s[p] != ",":
            return ctes, s[p:]
        i = p + 1


def connect(*dirs):
    """A DuckDB connection with one view per parquet file of `dirs`
    (a later directory's table shadows an earlier one's)."""
    con = duckdb.connect()
    con.sql("SET enable_progress_bar = false")
    for d in dirs:
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                con.sql(f"CREATE OR REPLACE VIEW {f[:-len('.parquet')]} AS "
                        f"SELECT * FROM '{os.path.join(d, f)}'")
    return con


def replay(con, sql):
    """Materialise each CTE in order, then return the final relation."""
    ctes, final = split_ctes(sql)
    for name, body in ctes:
        con.sql(f"CREATE OR REPLACE TEMP TABLE {name} AS {body}")
    return con.sql(final)


def render(rows, columns):
    """Order-free digest: values in column-name order, tab-joined, null
    as \\N, lines sorted, md5 of the newline-joined text — the same
    rendering as the harness's Digest.rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v):
        if v is None:
            return "\\N"
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    lines = sorted("\t".join(cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode("utf-8")).hexdigest(), len(lines)


# Stream semantics of Incremental.refreshStream over the oracle's own
# stages: the front door (the oracle's `novel`), the per-row gate (its
# `gate` + `ql`), then content dedup across the stream — a text
# survives in the first increment that carries it, once — and the PII
# redaction chain of the oracle's `clean` stage.
INCREMENT_SQL = r"""
WITH g AS (
  SELECT i.inc, gate.doc_id, gate.text, ql.lang_pred, md5(gate.text) AS k
  FROM gate JOIN ql USING (doc_id) JOIN increment_ids i USING (doc_id)),
first AS (SELECT k, min(inc) AS inc FROM g GROUP BY k),
kept AS (
  SELECT g.inc, g.k, any_value(g.lang_pred) AS lang_pred, any_value(g.text) AS text
  FROM g JOIN first USING (k, inc) GROUP BY g.inc, g.k)
SELECT inc, lang_pred,
  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
    'https?://[^\s]+', '<URL>', 'g'),
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
    '\+\d[\d -]{7,14}\d|\(?\d{3}\)?[ -]\d{3}[ -]\d{4}', '<PHONE>', 'g')) AS clean_md5
FROM kept
"""


def expected(workload, oracle_sql, data_dir):
    """Replay the workload's oracles on data_dir; write the checked
    face's oracle rows to data_dir/oracle/<face>.parquet and return the
    expected.tsv lines (operation, digest, rows): `job` for the batch
    output, `inc-<i>` for each refresh increment."""
    face = FACES[workload]
    con = connect(data_dir)
    final = replay(con, oracle_sql[face])
    out_dir = os.path.join(data_dir, "oracle")
    os.makedirs(out_dir, exist_ok=True)
    final.write_parquet(os.path.join(out_dir, f"{face}.parquet"))
    lines = [("job",) + render(final.fetchall(), final.columns)]
    con.close()
    if workload == "text_corpus":
        con = connect(data_dir, os.path.join(data_dir, "crawl"))
        replay(con, oracle_sql["q_corpus_refresh_e2e"])
        rel = con.sql(INCREMENT_SQL)
        rows = rel.fetchall()
        n_inc = con.sql("SELECT max(inc) + 1 FROM increment_ids").fetchone()[0]
        for i in range(n_inc):
            lines.append((f"inc-{i}",) + render([r[1:] for r in rows if r[0] == i],
                                                rel.columns[1:]))
        con.close()
    return lines


def load_check_py(root):
    """tools/check.py of the checkout, imported as a module."""
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_face(root, face, data_dir, spark_dir):
    """Compare the face's Spark output with the replayed oracle rows via
    check.py's check_one, in a forked child as check.py runs it.
    Returns (passed, detail)."""
    check = load_check_py(root)
    check.sf_dir = os.path.join(data_dir, "oracle")
    sql = f"SELECT * FROM '{os.path.join(data_dir, 'oracle', face + '.parquet')}'"
    ctx = mp.get_context("fork")
    r, w = ctx.Pipe(duplex=False)
    proc = ctx.Process(target=check.check_one, args=(face, sql, spark_dir, w))
    proc.start()
    w.close()
    verdict, detail = "fail", "child exited without a verdict"
    try:
        if r.poll(120):
            verdict, detail = r.recv()
    except EOFError:
        pass
    proc.join(10)
    if proc.is_alive():
        proc.kill()
        proc.join()
    r.close()
    return verdict == "pass", detail
