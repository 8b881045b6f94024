"""Untimed correctness check of one opsbench run, computed apart from
the program.

The reference re-derives every document's 5-gram shingles and its 16
MinHash lanes in DuckDB from the published rule (the one
graft.llm.MinHash.oracleSigCtes restates): lower-cased text, shingle hash
= base-31 polynomial over code points, lane i = min over the shingle set
of (a_i * (h mod P) + b_i) mod P with P = 2^31 - 1 and the 16 fixed
(a_i, b_i) seeds below. Two documents are near-duplicates when at least
14 of 16 lanes agree; exact duplicates share a sha-256 of their text.
Components of the near-duplicate graph come from a union-find here.

flooded_ingest: each day's dedupBatch counts per lang must equal the
reference against the documents indexed before that day; the maintained
labels of a mid-run day and the last day must equal the reference
components (label = component minimum) and form a star forest. Every
day's dedupBatch also screens the fixed fault probe; the call is sound
only if every flagged document has a >= 14/16 partner in the index. A
call whose counts are the reference plus exactly one en near-duplicate
(the first probe document) is the known dedupBatch fault: a timed one
counts as a failed operation. Any other difference is a problem.
audit_churn: the replayed dedupBatch of
every cycle must match the reference against the harness model's ids of
the pinned version; the harness itself checks reads against its model.
"""

import json
from collections import defaultdict

import duckdb

P = 2147483647
SEEDS = [(10007, 3), (10037, 7), (10039, 11), (10061, 13), (10067, 17), (10069, 19),
         (10079, 23), (10091, 29), (10093, 31), (10099, 37), (10103, 41), (10111, 43),
         (10133, 47), (10139, 53), (10141, 59), (10151, 61)]
GRAM = 5
THRESHOLD = 14
BASE_DAY = -1
PROBE_DAY = 1 << 30


def _reference(con):
    """Signatures, sha-256 and the >= 14/16 pair set of table `docs`.
    Candidates are pairs sharing one of the C(4,2) band pairs (8 lanes):
    two signatures that differ in at most 2 lanes break at most 2 of the
    4 bands, so this is lossless for the 14/16 rule."""
    poly = "CAST(ascii(substr(s, 1, 1)) AS BIGINT)"
    for i in range(2, GRAM + 1):
        poly = f"({poly} * 31 + ascii(substr(s, {i}, 1)))"
    seeds = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(SEEDS))
    con.execute(f"""
        CREATE TABLE sh AS SELECT DISTINCT doc_id, {poly} AS h
        FROM (SELECT doc_id, substr(lt, pos, {GRAM}) AS s
              FROM (SELECT doc_id, lower(text) AS lt FROM docs),
                   unnest(generate_series(1, length(lt) - {GRAM - 1})) t(pos))""")
    con.execute(f"""
        CREATE TABLE sig AS SELECT doc_id, i, min((a * (h % {P}) + b) % {P}) AS mh
        FROM sh CROSS JOIN (VALUES {seeds}) seeds(i, a, b) GROUP BY 1, 2""")
    con.execute("CREATE TABLE hashes AS SELECT doc_id, sha256(text) AS h FROM docs")
    bands = [(x, y) for x in range(4) for y in range(x + 1, 4)]
    con.execute("CREATE TABLE keys AS " + " UNION ALL ".join(
        f"SELECT doc_id, {n} AS bp, string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS k "
        f"FROM sig WHERE i // 4 IN ({x}, {y}) GROUP BY doc_id"
        for n, (x, y) in enumerate(bands)))
    return con.execute(f"""
        WITH cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM keys a JOIN keys b
                        ON a.bp = b.bp AND a.k = b.k AND a.doc_id < b.doc_id)
        SELECT c.d1, c.d2 FROM cand c
          JOIN sig s1 ON s1.doc_id = c.d1
          JOIN sig s2 ON s2.doc_id = c.d2 AND s2.i = s1.i
        GROUP BY 1, 2 HAVING sum(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END) >= {THRESHOLD}""").fetchall()


def _load_docs(con, files):
    """files: (parquet path, day) pairs."""
    con.execute("CREATE TABLE docs (doc_id BIGINT, lang VARCHAR, text VARCHAR, day INTEGER)")
    for f, day in files:
        con.execute(f"INSERT INTO docs SELECT doc_id, lang, text, {day} FROM read_parquet(?)", [f])


def _counts(program):
    return {r["lang"]: (r["n_new"], r["n_exact_dup"], r["n_neardup"]) for r in program}


def _dedup_reference(batch, indexed, lang, digest, partners):
    """Per-lang (n_new, n_exact_dup, n_neardup) of `batch` ids against
    the `indexed` id set."""
    hashes = {digest[i] for i in indexed}
    out = defaultdict(lambda: [0, 0, 0])
    for x in batch:
        c = out[lang[x]]
        c[0] += 1
        c[1] += digest[x] in hashes
        c[2] += any(y in indexed for y in partners[x])
    return {k: tuple(v) for k, v in out.items()}


def _components(ids, partners):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x in ids:
        for y in partners[x]:
            if y in parent:
                a, b = find(x), find(y)
                if a != b:
                    parent[max(a, b)] = min(a, b)
    return {i: find(i) for i in ids}


def _probe_fault(got, ref):
    """True when `got` is `ref` plus the known fault's single flag: the
    first probe document (en) counted as a near-duplicate of the index."""
    n_new, n_exact, n_near = ref["en"]
    return got == dict(ref, en=(n_new, n_exact, n_near + 1))


def _check_labels(con, artifact, version, ids, partners):
    rows = con.execute(
        "SELECT id, lbl FROM read_parquet(?)",
        [f"{artifact}/forest.parquet/gen-{version}/*.parquet"]).fetchall()
    got = dict(rows)
    problems = []
    if len(rows) != len(got) or set(got) != ids:
        problems.append(f"forest gen-{version}: id set differs from the indexed docs")
        return problems
    ref = _components(ids, partners)
    bad = [i for i in ids if got[i] != ref[i]]
    if bad:
        problems.append(f"forest gen-{version}: {len(bad)} labels differ from the "
                        f"reference components (e.g. doc {bad[0]}: {got[bad[0]]} vs {ref[bad[0]]})")
    if any(got.get(l) != l for l in got.values()):
        problems.append(f"forest gen-{version}: not a star forest")
    return problems


def run(workload, input_dir, out_dir):
    """Returns (correct, failed operations, problems)."""
    result = json.load(open(f"{out_dir}/result.json"))
    problems = list(result["problems"])
    failed = 0
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{out_dir}/duckdb.tmp'")
    if workload == "audit_churn":
        audit = json.load(open(f"{out_dir}/audit.json"))
        cycles = audit["cycles"]
        _load_docs(con, [(f"{input_dir}/base.parquet", BASE_DAY)] +
                   [(f"{input_dir}/day-{c['cycle']:05d}.parquet", c["cycle"]) for c in cycles])
    else:
        ingest = json.load(open(f"{out_dir}/ingest.json"))
        days = ingest["days"]
        _load_docs(con, [(f"{input_dir}/base.parquet", BASE_DAY)] +
                   [(f"{input_dir}/day-{d['day']:05d}.parquet", d["day"]) for d in days] +
                   [(f"{input_dir}/probe.parquet", PROBE_DAY)])
    pairs = _reference(con)
    partners = defaultdict(set)
    for a, b in pairs:
        partners[a].add(b)
        partners[b].add(a)
    lang, digest, by_day = {}, {}, defaultdict(list)
    for doc_id, l, day, h in con.execute(
            "SELECT d.doc_id, d.lang, d.day, h.h FROM docs d JOIN hashes h USING (doc_id)").fetchall():
        lang[doc_id], digest[doc_id] = l, h
        by_day[day].append(doc_id)

    if workload == "audit_churn":
        for c in cycles:
            ref = _dedup_reference(by_day[c["cycle"]], set(c["old_ids"]), lang, digest, partners)
            got = _counts(c["counts"])
            if got != ref:
                problems.append(f"cycle {c['cycle']}: dedupBatch {got} != reference {ref}")
        return not problems, failed, problems

    indexed = set(by_day[BASE_DAY])
    checked = set(ingest["label_days"])
    for d in days:
        day = d["day"]
        batch = by_day[day]
        # every day screens the fault probe in the same dedupBatch call
        ref = _dedup_reference(batch + by_day[PROBE_DAY], indexed, lang, digest, partners)
        got = _counts(d["counts"])
        if _probe_fault(got, ref):
            failed += d["timed"]
        elif got != ref:
            problems.append(f"day {day}: dedupBatch {got} != reference {ref}")
        indexed |= set(batch)
        if day in checked:
            problems += _check_labels(con, ingest["artifact"], d["version"], indexed, partners)
    return not problems, failed, problems
