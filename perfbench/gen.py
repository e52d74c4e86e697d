"""Seeded input generator for the perfbench workloads.

Every input is a pure function of (workload, seed): the same seed gives
byte-identical files.  Each input set is written into a staging
directory and renamed into place only after a `_SUCCESS` marker is
written, so a killed generation is never mistaken for a finished one.

Tables mirror the engine's star schema (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings): the
same columns, types and value ranges, one parquet file per table and
one row group per file.

The catalogue set holds TEI `CAT_*.xml` files, an entity catalogue and
an attribute table, plus `truth.json`: for every item the entity it was
planted from and whether its name was perturbed.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# abbreviation -> full first name, a subset of the engine's French
# first-name table (MatchingTables.names) restricted to ASCII forms
FIRST_NAMES = {"ad": "adam", "alex": "alexandre", "alph": "alphonse",
               "ant": "antoine", "arm": "armand", "aug": "auguste",
               "ch": "charles", "dom": "dominique",
               "emm": "emmanuel", "ed": "edouard", "et": "etienne",
               "ferd": "ferdinand", "fred": "frederic", "gab": "gabriel",
               "jacq": "jacques", "jos": "joseph", "math": "matthieu",
               "nic": "nicolas", "ph": "philippe", "v": "victor"}
OCCUPATIONS = ["colonel", "capitaine", "officier", "commandant", "lieutenant"]
# substrings a generated surname must not contain: nobility titles (the
# engine strips them), name-kind keywords, and "le meme" carry-forward
FORBIDDEN = ["empereur", "reine", "roi", "prince", "duc", "famille",
             "seigneur", "vic", "cte", "comte", "cardinal", "pape", "lord",
             "chevalier", "marquis", "sir", "baron", "mme", "madame",
             "monsieur", "mr", "docteur", "melle", "mlle", "document",
             "divers", "charte", "table", "region", "nation", "stream",
             "event", "war", "revolution", "meme"]
SYLLABLES = [c + v for c in "bcdfglmnprstv" for v in ["a", "e", "i", "o", "u", "ou", "an", "er"]]

TS_2024 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
DAY_US = 86_400_000_000
D1995 = np.datetime64("1995-01-01", "D").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed, sf):
    """The star schema at scale factor `sf` (sf=0.1 ~ 600k lineitems)."""
    ss = np.random.SeedSequence([seed, 1])
    r = [np.random.default_rng(s) for s in ss.spawn(8)]
    n_c, n_s, n_p = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_o, n_l, n_e = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_d, n_v = int(50_000 * sf), int(20_000 * sf)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    g = r[0]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(g.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(g, -999.99, 9999.99, n_c),
        "c_mktsegment": np.array(SEGMENTS)[g.integers(0, 5, n_c)]})
    g = r[1]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(g.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(g, -999.99, 9999.99, n_s)})
    g = r[2]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(g.integers(0, 8, n_p), g.integers(0, 8, n_p))],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_p)],
        "p_type": np.array(PTYPES)[g.integers(0, 6, n_p)],
        "p_size": pa.array(g.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 2)})
    g = r[3]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, n_o)],
        "o_totalprice": _money(g, 1000.0, 500000.0, n_o),
        "o_orderdate": _ts((D1995 + g.integers(0, 2404, n_o)) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[g.integers(0, 5, n_o)]})
    g = r[4]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.sort(g.integers(0, n_o, n_l)), pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, n_l), pa.int32()),
        "l_quantity": g.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(g, 900.0, 105000.0, n_l),
        "l_discount": g.integers(0, 11, n_l) / 100.0,
        "l_tax": g.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_l)],
        "l_shipdate": _ts((D1995 + 1 + g.integers(0, 2498, n_l)) * DAY_US)})
    g = r[5]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": _ts(np.sort(TS_2024 + g.integers(0, 30 * DAY_US, n_e))),
        "user_id": pa.array(g.integers(0, max(150, n_c // 10), n_e), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[g.integers(0, 5, n_e)],
        "value": np.round(g.exponential(50.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_e)]})
    g = r[6]
    words = np.array(WORDS)
    lens = g.integers(8, 90, n_d)
    texts = [" ".join(words[g.integers(0, len(WORDS), k)]) for k in lens]
    # 5% near-duplicates: an earlier document with a trailing marker word
    for i in np.nonzero(g.random(n_d) < 0.05)[0]:
        if i > 0:
            texts[i] = texts[int(g.integers(0, i))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_d), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[g.integers(0, len(LANGS), n_d)],
        "source": [f"src{s}" for s in g.integers(0, 20, n_d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    g = r[7]
    v = g.standard_normal((n_v, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_v), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, n_v), pa.int32())})
    return t


def write_tables(out, seed, sf):
    for name, table in base_tables(seed, sf).items():
        _write(table, os.path.join(out, f"{name}.parquet"))


def _surnames(rng, n):
    seen, out = set(), []
    while len(out) < n:
        k = int(rng.integers(2, 5))
        s = "".join(SYLLABLES[j] for j in rng.integers(0, len(SYLLABLES), k))
        if s in seen or any(f in s for f in FORBIDDEN):
            continue
        seen.add(s)
        out.append(s)
    return out


def _perturb(rng, s):
    """One-edit typo inside a surname (never its first letter, so the
    soundex block and the phonetic neighbourhood stay plausible)."""
    i = int(rng.integers(1, len(s)))
    if rng.random() < 0.5 and len(s) > 3:
        return s[:i] + s[i + 1:]
    c = "aeiou"[int(rng.integers(0, 5))] if s[i] not in "aeiou" else "rstln"[int(rng.integers(0, 5))]
    return s[:i] + c + s[i + 1:]


def write_catalogue(out, seed, n_items, n_files, n_entities, perturbed_share):
    rng = np.random.default_rng(np.random.SeedSequence([seed, 2]))
    abbrevs = sorted(FIRST_NAMES)
    surnames = _surnames(rng, n_entities)
    ids = rng.choice(np.arange(100, 10 * n_entities + 100), n_entities, replace=False)
    first = [abbrevs[j] for j in rng.integers(0, len(abbrevs), n_entities)]
    entities = [(f"Q{q}", s.capitalize(), f) for q, s, f in zip(ids, surnames, first)]
    _write(pa.table({"entity_id": [e[0] for e in entities],
                     "entity_name": [f"{s} {FIRST_NAMES[f].capitalize()}" for _, s, f in entities]}),
           os.path.join(out, "entities.parquet"))
    _write(pa.table({"wikidata_id": [e[0] for e in entities],
                     "occupation": np.array(OCCUPATIONS)[rng.integers(0, len(OCCUPATIONS), n_entities)],
                     "citizenship": np.array(["France", "Belgique", "Suisse"])[rng.integers(0, 3, n_entities)],
                     "floruit": [str(y) for y in rng.integers(1750, 1880, n_entities)]}),
           os.path.join(out, "attributes.parquet"))

    planted = rng.choice(n_entities, n_items, replace=False)
    names_used = {f"{s} ({f.capitalize()}.)" for _, s, f in entities}
    cat_dir = os.path.join(out, "catalogues")
    os.makedirs(cat_dir)
    truth, per_file = [], [[] for _ in range(n_files)]
    for k, e in enumerate(planted):
        qid, surname, abbrev = entities[e]
        name = f"{surname} ({abbrev.capitalize()}.)"
        perturbed = bool(rng.random() < perturbed_share)
        if perturbed:
            while True:
                cand = f"{_perturb(rng, surname)} ({abbrev.capitalize()}.)"
                if cand not in names_used:
                    break
            name = cand
            names_used.add(name)
        f = k % n_files
        born = int(rng.integers(1740, 1860))
        trait = (f"N. {born} M. {born + int(rng.integers(30, 80))}. "
                 f"{OCCUPATIONS[int(rng.integers(0, len(OCCUPATIONS)))].capitalize()}.")
        xml_id = f"CAT_{f:06d}_e{len(per_file[f]) + 1}"
        per_file[f].append((xml_id, name, trait))
        truth.append({"xml_id": xml_id, "file": f"CAT_{f:06d}", "name": name,
                      "entity_id": qid, "entity_name": f"{surname} {FIRST_NAMES[abbrev].capitalize()}",
                      "perturbed": perturbed})
    for f, items in enumerate(per_file):
        body = "\n".join(
            f'<item xml:id="{i}"><name>{n}</name>\n <trait><p>{t}</p></trait></item>'
            for i, n, t in items)
        xml = ('<TEI xmlns="http://www.tei-c.org/ns/1.0">\n'
               f"<teiHeader><fileDesc><titleStmt><title>CAT_{f:06d}</title></titleStmt>"
               "</fileDesc><encodingDesc><p>perfbench</p></encodingDesc></teiHeader>\n"
               f"<text><body><list>\n{body}\n</list></body></text></TEI>\n")
        with open(os.path.join(cat_dir, f"CAT_{f:06d}.xml"), "w", encoding="utf-8") as fh:
            fh.write(xml)
    with open(os.path.join(out, "n_items"), "w") as fh:
        fh.write(f"{n_items}\n")
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump({"n_items": n_items, "n_files": n_files, "items": truth}, fh, indent=0)


def ensure(root, workload, seed, spec):
    """Return the committed input directory for (workload, seed),
    generating it first if no committed copy exists."""
    out = os.path.join(root, workload, f"seed-{seed}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out, False
    stage = out + ".tmp"
    shutil.rmtree(stage, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(stage)
    if spec["kind"] == "tables":
        write_tables(stage, seed, spec["sf"])
    else:
        write_catalogue(stage, seed, spec["items"], spec["files"], spec["entities"],
                        spec["perturbed_share"])
    open(os.path.join(stage, "_SUCCESS"), "w").close()
    os.rename(stage, out)
    return out, True
