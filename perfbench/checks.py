"""Output checks for the perfbench workloads.

Query workloads: each result the harness wrote in its check pass is
compared with the operator's DuckDB oracle (`SparkEntry.oracleSql`) over
the same generated inputs, the way tools/check.py compares them:
columns sorted by name, rows sorted, values compared exactly (floats via
repr).  The oracle side of a compare depends only on the inputs and the
SQL text, so its canonical digest is cached per (seed, SQL).

catalogue_enrich: the pipeline outputs are checked against the ground
truth the generator recorded.
"""
import csv
import glob
import hashlib
import json
import os
import re

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = repr(v)
            elif isinstance(v, list):
                v = json.dumps([repr(x) if isinstance(x, float) else x for x in v])
            else:
                v = str(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out), [cols[i] for i in order]


def digest(rows, cols):
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
    return h.hexdigest()


def _connect(data_dir, work_dir, threads):
    import duckdb
    c = duckdb.connect()
    spill = os.path.join(work_dir, "duckdb_spill")
    os.makedirs(spill, exist_ok=True)
    c.execute(f"SET temp_directory='{spill}'")
    c.execute("SET memory_limit='2GB'")
    c.execute(f"SET threads={threads}")
    c.execute("SET preserve_insertion_order=false")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return c


def check_queries(data_dir, out_dir, cache_dir, work_dir, threads):
    """Returns (names checked, list of failure messages)."""
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    os.makedirs(cache_dir, exist_ok=True)
    con = _connect(data_dir, work_dir, threads)
    failures = []
    for name, sql in sorted(oracle.items()):
        got_dir = os.path.join(out_dir, "results", name)
        if not glob.glob(os.path.join(got_dir, "*.parquet")):
            failures.append(f"{name}: no result written")
            continue
        try:
            rel = con.execute(f"SELECT * FROM '{got_dir}/*.parquet'")
            g, gc = canon(rel.fetchall(), [d[0] for d in rel.description])
            key = hashlib.sha256(sql.encode()).hexdigest()[:16]
            cached = os.path.join(cache_dir, f"{name}-{key}.json")
            want = json.load(open(cached)) if os.path.exists(cached) else None
            if want is None or want["digest"] != digest(g, gc):
                rel = con.execute(sql)
                e, ec = canon(rel.fetchall(), [d[0] for d in rel.description])
                want = {"digest": digest(e, ec), "rows": len(e)}
                tmp = cached + ".tmp"
                with open(tmp, "w") as fh:
                    json.dump(want, fh)
                os.replace(tmp, cached)
                if gc != ec:
                    failures.append(f"{name}: columns differ spark={gc} oracle={ec}")
                elif g != e:
                    diff = [(a, b) for a, b in zip(g, e) if a != b][:2]
                    failures.append(f"{name}: rows differ ({len(g)} vs {len(e)}); first: {diff}")
        except Exception as ex:  # a broken result must read as a failure
            failures.append(f"{name}: {type(ex).__name__}: {ex}")
    return sorted(oracle), failures


def _read_tsv(d):
    rows = []
    for p in sorted(glob.glob(os.path.join(d, "*.csv"))):
        with open(p, newline="", encoding="utf-8") as fh:
            r = csv.DictReader(fh, delimiter="\t")
            rows.extend(r)
    return rows


def check_catalogue(data_dir, out_dir):
    """The four pipeline conditions plus the enrichment document's ids.
    Returns (condition names, list of failure messages)."""
    truth = json.load(open(os.path.join(data_dir, "truth.json")))
    items = truth["items"]
    clean = [t for t in items if not t["perturbed"]]
    pipe = os.path.join(out_dir, "pipeline")
    failures = []

    rows = _read_tsv(os.path.join(pipe, "nametable"))
    if len(rows) != truth["n_items"]:
        failures.append(f"nametable has {len(rows)} rows, {truth['n_items']} items were generated")
    by_id = {r.get("xml_id"): r for r in rows}
    wrong = [t["xml_id"] for t in clean
             if by_id.get(t["xml_id"], {}).get("wikidata_id") != t["entity_id"]
             or by_id.get(t["xml_id"], {}).get("matched_name") != t["entity_name"]]
    if wrong:
        failures.append(f"{len(wrong)} unperturbed items not resolved to their planted entity, "
                        f"e.g. {wrong[:3]}")

    ids = set()
    for p in glob.glob(os.path.join(pipe, "enrichments", "*.json")):
        with open(p, encoding="utf-8") as fh:
            ids.update(json.loads(line)["id"] for line in fh if line.strip())
    missing = {t["entity_id"] for t in clean} - ids
    if missing:
        failures.append(f"{len(missing)} matched entities missing from the enrichment document")

    text = ""
    for p in sorted(glob.glob(os.path.join(pipe, "tei", "*.txt"))):
        with open(p, encoding="utf-8") as fh:
            text += fh.read()
    docs = {}
    for doc in text.split("</TEI>"):
        m = re.search(r"<title>(CAT_\d+)</title>", doc)
        if m:
            docs[m.group(1)] = doc
    if len(docs) != truth["n_files"]:
        failures.append(f"{len(docs)} rewritten files, {truth['n_files']} catalogues were generated")
    no_header = sorted(f for f, d in docs.items() if "<listPrefixDef>" not in d)
    if no_header:
        failures.append(f"{len(no_header)} rewritten files lack the listPrefixDef header")
    no_ref = [t["xml_id"] for t in clean
              if f'<name ref="wd:{t["entity_id"]}">{t["name"]}</name>' not in docs.get(t["file"], "")]
    if no_ref:
        failures.append(f"{len(no_ref)} unperturbed names lack their ref in the rewritten file, "
                        f"e.g. {no_ref[:3]}")
    return ["nametable_rows", "resolution", "enrichment_ids", "file_count",
            "listPrefixDef", "refs"], failures
