"""Seeded input generator for the benchmark.

Two families, both a pure function of the seed:

* ``write_tables`` writes the ten fixture tables the engine's queries read
  (the TPC-H-like star, ``events``, ``documents``, ``embeddings``) at scale
  factor 0.1, with the column types and value distributions of the
  fixtures described in FIXTURES.md.
* ``ingest_inputs`` builds the EPA lifecycle: product JSON documents and
  FlateDecode label PDFs for a bulk load followed by delta batches of new
  products, new PDF versions, unchanged re-sends, malformed JSON and
  corrupt PDFs, sized and paced after the reference's figures (BASELINE.md).
  ``write_ingest`` lays them out on disk with a manifest the benchmark's
  correctness check reads.
"""
import json
import os
import random
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge", "order",
             "part", "query", "row", "scan", "slow", "small", "sort", "spark",
             "stream", "table", "the", "value", "vector", "window"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf=SF):
    """Return {name: pyarrow.Table} for the ten fixture tables."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i // 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    statuses = np.array(["F", "O", "P"])
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": statuses[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})
    flags = np.array(["A", "N", "R"])
    lstat = np.array(["F", "O"])
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": flags[rng.integers(0, 3, n_li)],
        "l_linestatus": lstat[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_li) * DAY_US)})
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    gaps = np.maximum(rng.exponential(26_000_000, n_ev).astype(np.int64), 1)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": kinds[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    langs = np.array(["de", "en", "en", "en", "es", "fr", "zh"])
    words = np.array(DOC_WORDS)
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 0 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def requests(seed, vocab, n=400):
    """Seeded search requests: each a list of two or three distinct terms."""
    rng = random.Random(seed * 104729 + 3)
    return [rng.sample(vocab, rng.randrange(2, 4)) for _ in range(n)]


def write_tables(out_dir, seed, sf=SF):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    with open(os.path.join(out_dir, "requests.json"), "w") as f:
        json.dump(requests(seed, [w for w in DOC_WORDS if w not in ("a", "the")]), f)


# ---------------------------------------------------------------- ingest

LABEL_WORDS = [
    "apply", "spray", "crop", "label", "hazard", "precaution", "keep", "out",
    "reach", "children", "wear", "gloves", "eye", "skin", "toxic", "fish",
    "wildlife", "do", "not", "contaminate", "water", "storage", "disposal",
    "container", "rinse", "triple", "mix", "tank", "acre", "rate", "pest",
    "weed", "insect", "fungus", "control", "residue", "interval", "harvest",
    "restricted", "entry", "hours", "worker", "protection", "standard",
    "first", "aid", "call", "poison", "center", "doctor", "swallowed",
    "inhaled", "flush", "minutes", "remove", "clothing", "environmental",
    "bees", "foraging", "drift", "buffer", "zone", "soil", "groundwater",
    "leaching", "active", "ingredient", "inert", "percent", "registration",
    "number", "establishment", "net", "contents", "gallon", "ounce", "dilute",
    "rotate", "resistance", "group", "mode", "action", "orchard", "vineyard",
    "turf", "ornamental", "greenhouse", "nursery", "corn", "soybean", "wheat",
    "cotton", "rice", "potato", "tomato", "apple", "citrus", "grape"]
SIGNAL = ["CAUTION", "WARNING", "DANGER"]
TYPES = ["INSECTICIDE", "HERBICIDE", "FUNGICIDE", "RODENTICIDE", "ANTIMICROBIAL"]
STATES = ["CA", "CT", "DE", "IA", "IL", "MO", "NC", "NJ", "TX", "WA"]

# Sizes and pace from the reference (BASELINE.md): the bulk load is its
# product list (87 registration numbers in EPA_LIST.csv) carrying its
# shipped corpus (51 label PDFs, about 24 MB, so 470 KB a PDF on average);
# products arrive at its API pace of one every 5 s, so a delta batch due
# every PERIOD_S seconds carries PERIOD_S / 5 of them.
BULK_PRODUCTS = 87
BULK_PDFS = 51
PDF_MEAN_BYTES = 24 * 1024 * 1024 // 51
ARRIVAL_S = 5.0
# The period is above the delta service time the benchmark measures, so a
# batch's lag is its own freshness, not a queue behind earlier batches.
PERIOD_S = 12.0
# Extracted label text: one reference label (SoilGard, PdfTextSpec) gives
# about 49k characters, 6,800 of these words; labels here range from half
# to one and a half times that.
LABEL_WORDS_MEAN = 6800
# The fault-isolation paths: truncated JSON lines and truncated PDFs. The
# reference gives no rate; these are fixed counts so every run takes them.
BULK_MALFORMED, BULK_CORRUPT, DELTA_MALFORMED = 2, 2, 1
# A delta's arrivals cycle through these kinds.
ARRIVAL_KINDS = ("new_product", "new_version", "resend")


def spread(mean, n, rng):
    """n values evenly spread over [mean / 2, 3 * mean / 2), in a seeded
    order: the seed decides which label is long, not how much the bulk
    holds in total, so every seed's bulk and searches do the same work."""
    vals = [mean // 2 + mean * k // n for k in range(n)]
    rng.shuffle(vals)
    return vals


def delta_count(seconds, period=PERIOD_S):
    """Delta batches due inside a window of `seconds` (due at k * period)."""
    return max(1, int((seconds - 1e-9) // period))


def label_pdf(text, pad_bytes=0, pad=b""):
    """A PDF whose FlateDecode content streams show `text` with
    literal-string Tj operators, twelve words to a line and sixty lines to
    a page, plus an image XObject of `pad_bytes` bytes of `pad` (the
    scanned artwork that makes up most of a real label's size; its bytes
    all have the high bit set, as entropy-coded data mostly does, so no
    PDF keyword occurs in it)."""
    words = text.split(" ")
    lines = [" ".join(words[i:i + 12]) for i in range(0, len(words), 12)]
    pages = [lines[i:i + 60] for i in range(0, len(lines), 60)] or [[]]
    objs = [b"<< /Type /Catalog /Pages 2 0 R >>", None,
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            b"<< /Type /XObject /Subtype /Image /Width 1 /Height " +
            str(max(1, pad_bytes // 3)).encode() +
            b" /ColorSpace /DeviceRGB /BitsPerComponent 8 /Length " +
            str(pad_bytes).encode() + b" /Filter /DCTDecode >>\nstream\n" +
            pad[:pad_bytes] + b"\nendstream"]
    kids = []
    for pg in pages:
        ops = ["BT", "/F1 10 Tf", "72 740 Td"]
        for ln in pg:
            ops.append(f"({ln}) Tj")
            ops.append("0 -12 Td")
        ops.append("ET")
        body = zlib.compress("\n".join(ops).encode("latin-1"), 6)
        page_no, content_no = len(objs) + 1, len(objs) + 2
        kids.append(page_no)
        objs.append(b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents " +
                    str(content_no).encode() +
                    b" 0 R /Resources << /Font << /F1 3 0 R >> /XObject << /Im1 4 0 R >> >> >>")
        objs.append(b"<< /Length " + str(len(body)).encode() +
                    b" /Filter /FlateDecode >>\nstream\n" + body + b"\nendstream")
    objs[1] = (b"<< /Type /Pages /Kids [" + b" ".join(f"{k} 0 R".encode() for k in kids) +
               b"] /Count " + str(len(kids)).encode() + b" >>")
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, o in enumerate(objs, 1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + o + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref}\n%%EOF\n").encode()
    return bytes(out)


def _date(rng, lo_day):
    """An ISO date string some days after day `lo_day` of 2000 (30-day months)."""
    y, rem = divmod(lo_day + rng.randrange(0, 30), 360)
    m, d = divmod(rem, 30)
    return f"{2000 + y:04d}-{m + 1:02d}-{d + 1:02d}"


def ingest_inputs(seed, deltas):
    """Bulk + `deltas` delta batches as plain data, a pure function of
    `seed` and `deltas`.

    Returns {"batches": [[json_line, ...], ...], "pdfs": {name: bytes},
    "manifest": {...}}; batch 0 is the bulk load. The manifest lists, per
    batch, every well-formed product's PDF files (name, accepted date,
    text, corrupt flag) so a checker can recompute the latest PDF per
    product without the engine."""
    rng = random.Random(seed * 7919 + 17)
    # one block of high-bit bytes; each PDF pads with a slice of it
    pad = bytes(b | 0x80 for b in rng.randbytes(PDF_MEAN_BYTES * 2))
    products = {}  # regno -> dict(doc fields, pdfs=[(file, date)])
    pdfs, texts, corrupt = {}, {}, set()
    day_clock = [0]
    counter = [0]

    def new_pdf(regno, broken=False, shape=None):
        counter[0] += 1
        name = f"{regno}_{counter[0]:05d}.pdf"
        day_clock[0] += 1
        date = _date(rng, day_clock[0] * 3)
        n_words, size = shape or (
            rng.randrange(LABEL_WORDS_MEAN // 2, LABEL_WORDS_MEAN * 3 // 2),
            rng.randrange(PDF_MEAN_BYTES // 2, PDF_MEAN_BYTES * 3 // 2))
        text = " ".join(rng.choices(LABEL_WORDS, k=n_words))
        pdf = label_pdf(text, max(0, size - len(text) // 3), pad)
        if broken:
            pdfs[name] = pdf[:len(pdf) // 3] + bytes(rng.randrange(256) for _ in range(64))
            corrupt.add(name)
        else:
            pdfs[name] = pdf
        texts[name] = text
        return (name, date)

    def new_product(n_pdfs=1, broken=False, shape=None):
        regno = f"{rng.randrange(100, 99999)}-{len(products) + 1}"
        name = (rng.choice(LABEL_WORDS) + " " + rng.choice(LABEL_WORDS)).upper()
        p = {"eparegno": regno, "productname": f"{name} {len(products) + 1}",
             "signal_word": rng.choice(SIGNAL),
             "product_status": rng.choice(["Active", "Active", "Cancelled"]),
             "cancel_flag": rng.choice(["N", "N", "Y"]),
             "companyinfo": [{"name": f"AGRO {rng.randrange(1, 400)} CORP",
                              "city": "SPRINGFIELD", "state": rng.choice(STATES)}],
             "types": [{"type": t} for t in sorted(rng.sample(TYPES, rng.randrange(1, 3)))],
             "pdfs": []}
        products[regno] = p
        p["pdfs"] = [new_pdf(regno, broken, shape) for _ in range(n_pdfs)]
        return regno

    def doc_json(regno):
        p = products[regno]
        d = {k: v for k, v in p.items() if k != "pdfs"}
        d["pdffiles"] = [{"epa_reg_num": regno, "pdffile": f, "pdffile_accepted_date": dt}
                         for f, dt in p["pdfs"]]
        return json.dumps(d, sort_keys=True)

    batches, manifest = [], []

    def emit(regnos, n_malformed):
        lines = [doc_json(r) for r in regnos]
        for r in rng.sample(regnos, n_malformed):  # truncated re-sends
            line = doc_json(r)
            lines.insert(rng.randrange(len(lines) + 1), line[: len(line) // 2])
        batches.append(lines)
        manifest.append({r: [{"pdffile": f, "date": dt, "corrupt": f in corrupt,
                              "text": texts[f]} for f, dt in products[r]["pdfs"]]
                         for r in regnos})

    with_pdf = set(rng.sample(range(BULK_PRODUCTS), BULK_PDFS))
    broken = set(rng.sample(sorted(with_pdf), BULK_CORRUPT))
    # the bulk's readable labels take a fixed set of text lengths and PDF
    # sizes; the truncated ones the mean
    good = len(with_pdf) - len(broken)
    shapes = iter(zip(spread(LABEL_WORDS_MEAN, good, rng), spread(PDF_MEAN_BYTES, good, rng)))
    emit([new_product(1 if i in with_pdf else 0, i in broken,
                      (LABEL_WORDS_MEAN, PDF_MEAN_BYTES) if i in broken
                      else next(shapes) if i in with_pdf else None)
          for i in range(BULK_PRODUCTS)],
         BULK_MALFORMED)
    per_delta = max(1, round(PERIOD_S / ARRIVAL_S))
    k = 0
    for _ in range(deltas):
        arrivals = []
        for _ in range(per_delta):
            kind = ARRIVAL_KINDS[k % len(ARRIVAL_KINDS)]
            k += 1
            if kind == "new_product":
                arrivals.append(new_product())
                continue
            r = rng.choice(sorted(set(products) - set(arrivals)))
            if kind == "new_version":
                products[r]["pdfs"].append(new_pdf(r))
            arrivals.append(r)
        emit(arrivals, DELTA_MALFORMED)
    return {"batches": batches, "pdfs": pdfs, "manifest": manifest}


def write_ingest(out_dir, seed, seconds):
    """Write batch_NNN.jsonl (the bulk load and the deltas due within
    `seconds`), pdfs/<name>, manifest.json and requests.json; return the
    total number of input bytes (JSON plus PDF)."""
    inp = ingest_inputs(seed, delta_count(seconds))
    os.makedirs(os.path.join(out_dir, "pdfs"), exist_ok=True)
    total = 0
    for i, lines in enumerate(inp["batches"]):
        data = ("\n".join(lines) + "\n").encode()
        total += len(data)
        with open(os.path.join(out_dir, f"batch_{i:03d}.jsonl"), "wb") as f:
            f.write(data)
    for name, data in sorted(inp["pdfs"].items()):
        total += len(data)
        with open(os.path.join(out_dir, "pdfs", name), "wb") as f:
            f.write(data)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(inp["manifest"], f, sort_keys=True)
    with open(os.path.join(out_dir, "requests.json"), "w") as f:
        json.dump(requests(seed, LABEL_WORDS), f)
    return total
