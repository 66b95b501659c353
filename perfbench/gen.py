"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (seed, size constants below): the
same seed writes byte-identical files, and different seeds write inputs of
the same size. Each generator also returns the planted ground truth that
the output checks compare against, and writes it next to the inputs as
`truth.json`.

  permits_monthly  permits.zip (one '#'-delimited CSV entry, 26 columns)
                   + powiaty.parquet (the powiat dimension)
  corpus_funnel    docs.parquet, bench.parquet, images.parquet
  operator_sweep   the ten sf-shaped tables the query registry reads
"""
import datetime as dt
import hashlib
import json
import os
import shutil
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- permits_monthly ------------------------------------------------------

PERMIT_ROWS = 6_000
PERMIT_FIRST_DAY = dt.date(2019, 1, 1)
PERMIT_LAST_DAY = dt.date(2022, 12, 31)
# one full load, then two incremental windows
EXEC_DATES = ["2022-10-15", "2022-11-15", "2022-12-15"]
VOIVODESHIPS = ["%02d" % v for v in range(2, 33, 2)]
POWIATS_PER_VOIVODESHIP = 8
RODZAJ = ["budowa_nowego", "rozbudowa_obiektu", "odbudowa_obiektu"]
ROMANS = ["I", "II", "III", "IV", "V", "VI", "VII", "VIII", "IX", "X",
          "XI", "XII", "XIII", "XIV", "XV", "XVI", "XVII", "XVIII", "XIX",
          "XX", "XXI", "XXII", "XXIII", "XXIV", "XXV", "XXVI", "XXVII",
          "XXVIII", "XXIX", "XXX"]
# the categories the aggregate reports (its pivot columns); the others are
# valid but fold into the window totals only. The reference pivots on all
# 30 (3 rodzaj x 30 x 3 windows = 270 columns); 6 (54 columns) keeps the
# cost of building the wide frames visible while a permits run still fits
# the benchmark's schedule (see perfbench/README.md)
PIVOT_ROMANS = ROMANS[:6]
PERMIT_COLUMNS = [
    "numer_ewidencyjny_system", "numer_ewidencyjny_urzad",
    "data_wplywu_wniosku_do_urzedu", "nazwa_organu", "wojewodztwo_objekt",
    "obiekt_kod_pocztowy", "miasto", "terc", "cecha", "cecha_1", "ulica",
    "ulica_dalej", "nr_domu", "rodzaj_zam_budowlanego",
    "nazwa_zam_budowlanego", "kubatura", "stan", "jednostki_numer",
    "obreb_numer", "numer_dzialki", "numer_arkusza_dzialki",
    "nazwisko_projektanta", "imie_projektanta",
    "projektant_numer_uprawnien", "projektant_pozostali", "kategoria"]
# planted defect rates (fractions of all records); the kinds are disjoint
RATES = {
    "bad_date": 0.02,        # unparseable date -> null after coercion
    "code_six_digit": 0.03,  # leading zero lost -> padded back, Ok
    "code_null_fallback": 0.04,  # terc empty, filled from jednostki_numer
    "code_null_by_name": 0.01,   # terc and jednostki_numer empty, dim lookup
    "code_null_unknown": 0.005,  # nothing to fill from -> Unknown, dropped
    "code_bad_prefix": 0.02,     # voivodeship prefix invalid -> dropped
    "code_unknown_powiat": 0.01,  # valid prefix, powiat not in the dim
    "bad_kategoria": 0.02,   # not a Roman numeral I..XXX
    "bad_rodzaj": 0.01,      # not one of RODZAJ
    "corrupt": 0.001,        # non-numeric kubatura -> corrupt record
}


def _syllable_names(rng, n):
    cons, vows = "bcdfgklmnprstwz", "aeiouy"
    names = set()
    while len(names) < n:
        names.add("".join(rng.choice(list(cons)) + rng.choice(list(vows))
                          for _ in range(3)))
    return sorted(names)


def _months_back(d, m):
    y, mo = d.year, d.month - m
    while mo <= 0:
        mo += 12
        y -= 1
    return dt.date(y, mo, d.day)


def gen_permits(seed, out):
    rng = np.random.default_rng(seed)
    n = PERMIT_ROWS
    # the powiat dimension: code WWPP, a unique 6-letter name, and the
    # code of its seat gmina (what a by-name lookup fills in)
    codes = [w + "%02d" % p for w in VOIVODESHIPS
             for p in range(1, POWIATS_PER_VOIVODESHIP + 1)]
    names = [s.capitalize() for s in _syllable_names(rng, len(codes))]
    rng.shuffle(names)
    seat = [c + "011" for c in codes]
    pq.write_table(pa.table({"powiat_code": codes, "powiat_name": names,
                             "seat_terc": seat}),
                   os.path.join(out, "powiaty.parquet"))

    # each record gets at most one planted defect kind
    kinds = list(RATES)
    probs = np.array([RATES[k] for k in kinds])
    draw = rng.random(n)
    edges = np.cumsum(probs)
    kind_idx = np.searchsorted(edges, draw, side="right")  # len(kinds) = clean
    kind = np.array(kinds + ["clean"])[kind_idx]

    days = (PERMIT_LAST_DAY - PERMIT_FIRST_DAY).days + 1
    day_off = rng.integers(0, days, n)
    pidx = rng.integers(0, len(codes), n)
    gmina = rng.integers(1, 21, n)
    rtype = rng.integers(1, 4, n)
    rodzaj_idx = rng.integers(0, len(RODZAJ), n)
    kat_idx = rng.integers(0, len(ROMANS), n)
    six_ok = np.array([codes[i][0] == "0" for i in range(len(codes))])
    # six-digit codes only make sense where the voivodeship starts with 0
    kind = np.where((kind == "code_six_digit") & ~six_ok[pidx], "clean", kind)

    lines = []
    truth_rows = []
    bad_dates = ["2021-13-45", "n/a", "31.02.2020", "20x1-01-01", ""]
    bad_kat = ["IIII", "XXXI", "Q", "VX", "kat"]
    for i in range(n):
        k = kind[i]
        d = PERMIT_FIRST_DAY + dt.timedelta(days=int(day_off[i]))
        date_s = d.isoformat()
        pc = codes[pidx[i]]
        terc7 = "%s%02d%d" % (pc, gmina[i], rtype[i])
        terc, jedn, miasto = terc7, terc7 + "_1.%04d" % (i % 10000), \
            "%s %d" % (names[pidx[i]].lower(), gmina[i])
        rodzaj = RODZAJ[rodzaj_idx[i]]
        kat = ROMANS[kat_idx[i]]
        kub = "%d.%d" % (100 + i % 900, i % 10)
        final_code, valid = terc7, True
        if k == "bad_date":
            date_s = bad_dates[i % len(bad_dates)]
        elif k == "code_six_digit":
            terc = terc7[1:]
        elif k == "code_null_fallback":
            terc = ""
        elif k == "code_null_by_name":
            terc, jedn = "", ""
            miasto = "gmina %s" % names[pidx[i]]
            final_code = seat[pidx[i]]
        elif k == "code_null_unknown":
            terc, jedn, miasto = "", "", "brak %d" % gmina[i]
            final_code, valid = None, False
        elif k == "code_bad_prefix":
            terc = "99" + terc7[2:]
            jedn = terc + "_1.0001"
            final_code, valid = terc, False
        elif k == "code_unknown_powiat":
            terc = terc7[:2] + "99" + terc7[4:]
            jedn = terc + "_1.0001"
            final_code = terc
        elif k == "bad_kategoria":
            kat = bad_kat[i % len(bad_kat)]
        elif k == "bad_rodzaj":
            rodzaj = "inne"
        elif k == "corrupt":
            kub = "abc"
        pk = "S%08d" % i
        fields = [pk, "U/%d/%d" % (i % 97, d.year), date_s,
                  "Starosta %s" % names[pidx[i]], "woj_%s" % pc[:2],
                  "%02d-%03d" % (i % 100, i % 1000), miasto, terc,
                  "c%d" % (i % 7), "", "ul. %s" % names[(i * 7) % len(names)],
                  "", str(1 + i % 120), rodzaj, "dom %d" % (i % 13), kub,
                  "w" if i % 3 else "z", jedn, "%04d" % (i % 5000),
                  "%d/%d" % (i % 400, i % 9), str(i % 30),
                  "Nowak%d" % (i % 50), "Jan", "upr/%d" % (i % 999), "",
                  kat]
        lines.append("#".join(fields))
        truth_rows.append((k, date_s if k != "bad_date" else None,
                           final_code, valid, rodzaj, kat))
    csv = ("\n".join(lines) + "\n").encode("utf-8")
    zpath = os.path.join(out, "permits.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        info = zipfile.ZipInfo("wynik_zgloszenia.csv",
                               date_time=(2023, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        zf.writestr(info, csv)
    truth = _permit_truth(truth_rows, codes)
    truth.update(records=n, csv_bytes=len(csv),
                 input_bytes=os.path.getsize(zpath),
                 permit_columns=PERMIT_COLUMNS, romans=ROMANS, rodzaj=RODZAJ,
                 pivot_romans=PIVOT_ROMANS,
                 voivodeships=VOIVODESHIPS, exec_dates=EXEC_DATES)
    return truth


def _permit_truth(rows, dim_codes):
    dims = set(dim_codes)
    exec_dates = [dt.date.fromisoformat(d) for d in EXEC_DATES]
    good = [r for r in rows if r[0] != "corrupt"]
    # validation expectations over the good records
    val = {
        "n_rows": len(good),
        "date_parses": sum(1 for r in good if r[1] is not None),
        "kategoria_roman": sum(1 for r in good if r[5] in ROMANS),
        "terc_digits": 0,  # filled below from the raw code shape
        "rodzaj_known": sum(1 for r in good if r[4] in RODZAJ),
    }
    raw_terc_ok = {"clean", "bad_date", "bad_kategoria", "bad_rodzaj",
                   "code_six_digit", "code_bad_prefix", "code_unknown_powiat"}
    val["terc_digits"] = sum(1 for r in good if r[0] in raw_terc_ok)
    kept = [r for r in good if r[3]]
    dropped = len(good) - len(kept)
    dated = [(dt.date.fromisoformat(r[1]), r) for r in kept
             if r[1] is not None]
    # sink after all three runs: every kept, dated record before the last
    # exec date, by month
    last = exec_dates[-1]
    months = {}
    for d, _ in dated:
        if d < last:
            key = d.strftime("%Y-%m")
            months[key] = months.get(key, 0) + 1
    # per exec date, per window (3/2/1 months), per powiat: valid pivot
    # cells (known rodzaj x Roman kategoria) and all rows in the window
    pivots, windows = [], []
    for ed in exec_dates:
        piv, win = {}, {}
        lows = {m: _months_back(ed, m) for m in (3, 2, 1)}
        for d, r in dated:
            if not (lows[3] <= d < ed):
                continue
            unit = r[2][:4]
            cell = unit in dims and r[4] in RODZAJ and r[5] in PIVOT_ROMANS
            for m, lo in lows.items():
                if d >= lo:
                    key = "%s|%d" % (unit, m)
                    win[key] = win.get(key, 0) + 1
                    if cell:
                        piv[key] = piv.get(key, 0) + 1
        pivots.append(piv)
        windows.append(win)
    return {"validation": val, "kept": len(kept), "dropped_invalid": dropped,
            "corrupt": len(rows) - len(good), "sink_months": months,
            "pivot_totals": pivots, "window_counts": windows,
            "dim_rows": len(dim_codes)}


# ---- corpus_funnel --------------------------------------------------------

CORPUS_SINGLES = 500
CORPUS_CLIQUES = 100
CLIQUE_SIZE = 4
CORPUS_EXACT_GROUPS = 60   # each group: one text, three copies
CORPUS_GATED_LANG = 120     # German stopwords -> language gate drops
CORPUS_BAD_IMAGE = 100      # corrupt blob -> image gate drops
CORPUS_CONTAMINATED = 60    # text copied into the benchmark set
# the three words TextStats.stopwordHits counts, so every doc clears the
# quality gate by a wide margin
STOPWORDS = ["the", "a", "and"]
CORPUS_FILES = 8


def _vocab(rng, n):
    cons, vows = "bcdfghklmnprstvwz", "aeiou"
    out = set()
    while len(out) < n:
        out.add("".join(rng.choice(list(cons)) + rng.choice(list(vows))
                        for _ in range(int(rng.integers(2, 4)))))
    return sorted(out)


def _write_parts(table, path, parts=CORPUS_FILES):
    """A corpus arrives as many files; one file per part keeps the scan
    parallel."""
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, "part-%02d.parquet" % i))


def gen_corpus(seed, out):
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 4000)

    def text(nw):
        words = [vocab[j] for j in rng.integers(0, len(vocab), nw)]
        # one stopword in four: quality score ~60 against a gate of 10
        for p in range(0, nw, 4):
            words[p] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
        return words

    docs = []  # (role, group, words)
    for _ in range(CORPUS_SINGLES):
        docs.append(("single", -1, text(int(rng.integers(40, 160)))))
    for g in range(CORPUS_CLIQUES):
        base = text(int(rng.integers(60, 160)))
        for m in range(CLIQUE_SIZE):
            w = list(base)
            if m:
                # each member swaps one word at its own position, so every
                # pair stays far above the 50% Jaccard gate
                w[5 + 7 * m] = vocab[int(rng.integers(0, len(vocab)))]
            docs.append(("clique", g, w))
    for g in range(CORPUS_EXACT_GROUPS):
        base = text(int(rng.integers(40, 160)))
        for _ in range(3):
            docs.append(("exact", g, list(base)))
    for _ in range(CORPUS_GATED_LANG):
        w = text(int(rng.integers(40, 120)))
        w[3], w[9] = "und", "nicht"
        docs.append(("lang", -1, w))
    for _ in range(CORPUS_BAD_IMAGE):
        docs.append(("image", -1, text(int(rng.integers(40, 160)))))
    for _ in range(CORPUS_CONTAMINATED):
        docs.append(("contam", -1, text(int(rng.integers(40, 160)))))
    order = rng.permutation(len(docs))
    docs = [docs[i] for i in order]
    ids = np.arange(len(docs), dtype=np.int64) * 7 + 3

    def gif(w, h):
        return b"GIF89a" + int(w).to_bytes(2, "little") + \
            int(h).to_bytes(2, "little") + b"\xf7\x00\x00"

    blobs, bench_ids, bench_text = [], [], []
    for i, (role, _, w) in enumerate(docs):
        if role == "image":
            blobs.append(b"\xde\xad\xbe\xef" + bytes(int(x) for x in
                                                    rng.integers(0, 256, 8)))
        else:
            blobs.append(gif(rng.integers(8, 2000), rng.integers(8, 2000)))
        if role == "contam":
            bench_ids.append(1_000_000 + i)
            bench_text.append(" ".join(w))
    texts = [" ".join(w) for _, _, w in docs]
    _write_parts(pa.table({"doc_id": ids, "text": texts}),
                 os.path.join(out, "docs"))
    _write_parts(pa.table({"doc_id": ids,
                           "blob": pa.array(blobs, pa.binary())}),
                 os.path.join(out, "images"))
    pq.write_table(pa.table({"bench_id": pa.array(bench_ids, pa.int64()),
                             "text": bench_text}),
                   os.path.join(out, "bench.parquet"))
    singles = sorted(int(ids[i]) for i, d in enumerate(docs)
                     if d[0] == "single")
    groups = {}
    for i, (role, g, _) in enumerate(docs):
        if role in ("clique", "exact"):
            groups.setdefault("%s%d" % (role, g), []).append(int(ids[i]))
    dropped = sorted(int(ids[i]) for i, d in enumerate(docs)
                     if d[0] in ("lang", "image", "contam"))
    contam = sorted(int(ids[i]) for i, d in enumerate(docs)
                    if d[0] == "contam")
    return {"records": len(docs), "singles": singles,
            "groups": sorted(groups.values()), "dropped": dropped,
            "contaminated": contam,
            "survivors": len(singles) + len(groups),
            "input_bytes": sum(len(t.encode()) for t in texts)}


# ---- operator_sweep: sf-shaped tables --------------------------------------

SF_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
           "orders": 15000, "lineitem": 60000, "events": 10000,
           "documents": 500, "embeddings": 500}
DOC_WORDS = ["join", "hash", "row", "batch", "scan", "customer", "column",
             "filter", "small", "slow", "merge", "order", "vector", "line",
             "data", "table", "agg", "value", "key", "stream", "window",
             "spark", "a", "group", "part", "big", "sort", "query", "fast",
             "the"]


def _ts(base, seconds):
    return pa.array((np.datetime64(base, "us") +
                     (np.asarray(seconds) * 1e6).astype("timedelta64[us]")),
                    pa.timestamp("us"))


def gen_tables(seed, out):
    rng = np.random.default_rng(seed)
    n = SF_ROWS

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": ["NATION_%d" % i for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())})
    segs = ["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING"]
    c = n["customer"]
    write("customer", {
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": [segs[j] for j in rng.integers(0, 5, c)]})
    s = n["supplier"]
    write("supplier", {
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, s)})
    p = n["part"]
    adj = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
    noun = ["ring", "widget", "bolt", "gear", "plate", "rod", "gizmo", "anvil"]
    types = ["PROMO", "ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM"]
    write("part", {
        "p_partkey": pa.array(range(p), pa.int64()),
        "p_name": ["%s %s" % (adj[a], noun[b]) for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, p)],
        "p_type": [types[t] for t in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)})
    o = n["orders"]
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    write("orders", {
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, o)],
        "o_totalprice": money(1000.0, 500000.0, o),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, o) * 86400),
        "o_orderpriority": [prio[j] for j in rng.integers(0, 5, o)]})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, li)],
        "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, li)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, li) * 86400)})
    e = n["events"]
    etypes = ["click", "signup", "error", "view", "purchase"]
    write("events", {
        "event_id": pa.array(range(e), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, e))),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": [etypes[j] for j in rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(20.0, e) + 0.01, 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    langs = ["en"] * 3 + ["fr", "zh", "de", "es"]
    texts = []
    for i in range(d):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(DOC_WORDS[j] for j in
                                  rng.integers(0, 30, rng.integers(10, 100))))
    write("documents", {
        "doc_id": pa.array(range(d), pa.int64()), "text": texts,
        "lang": [langs[j] for j in rng.integers(0, len(langs), d)],
        "source": ["src%d" % (i % 20) for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    m = n["embeddings"]
    vecs = rng.normal(0.0, 0.13, (m, 64)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())})
    rows = sum(n.values()) + 30
    size = sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out))
    return {"records": rows, "input_bytes": size}


GENERATORS = {"permits_monthly": gen_permits, "corpus_funnel": gen_corpus,
              "operator_sweep": gen_tables}


def digest(path):
    """sha256 over every generated input file (relative name and bytes)."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for name in sorted(files):
            if name in ("truth.json", "oracle_digests.json"):
                continue
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def generate(workload, seed, out):
    """Write the inputs for (workload, seed) into `out` unless already
    there; return the ground truth."""
    done = os.path.join(out, "truth.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    truth = GENERATORS[workload](seed, tmp)
    truth["digest"] = digest(tmp)
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f)
    os.replace(tmp, out)
    return truth
