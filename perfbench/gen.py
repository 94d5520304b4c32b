"""Seeded input generators for the benchmark.

Everything the engine sees in a run comes from here, and every generator
is a pure function of its seed: the same seed writes byte-identical
files, a different seed writes different ones.

- ``crawl_corpus``: raw crawler records from three sources (JSON lines,
  one file per source) plus a directory of flate-compressed PDFs, with
  the truth a correctness check needs (survivor count after dedup and
  the minimum-length filter, planted PII counts).
- ``analytics_tables``: the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings`` tables the registry queries read,
  with the column names and types of the engine's test tables.
- ``query_texts``: a stream of search phrases for the RAG search.
"""

from __future__ import annotations

import hashlib
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ("gov.uk", "legislation.gov.uk", "ons.gov.uk")
PDF_SOURCE = "legislation.gov.uk"

_WORDS = (
    "the of and to in for on with by from council data report public "
    "health transport housing energy education budget policy survey "
    "statistics population employment regional local national service "
    "annual review quarterly guidance consultation committee planning "
    "environment water roads schools hospitals crime justice tax trade "
    "investment research digital science climate emissions farming "
    "industry market prices income benefits pensions welfare rail "
    "aviation shipping court police safety land nature waste"
).split()
_LICENSES = ("ogl-uk-3.0", "cc-by-4.0", "OGL-UK-2.0", "cc0-1.0", "unknown-key")
_LANGS = ("en", "en", "en", "de", "fr")


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n))


def _uuid(seed: int, i: int) -> str:
    h = hashlib.sha256(f"{seed}:{i}".encode()).hexdigest()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def _email(rng: np.random.Generator) -> str:
    user = _WORDS[int(rng.integers(0, len(_WORDS)))]
    return f"{user}.{int(rng.integers(10, 99))}@example.gov.uk"


def _phone(rng: np.random.Generator) -> str:
    return f"07{int(rng.integers(100, 999))} {int(rng.integers(100, 999))} {int(rng.integers(100, 999))}"


def _body(rng: np.random.Generator, tag: str, long: bool) -> tuple[str, int, int]:
    """A record text with a unique tag. Long bodies run to several
    chunks; short ones stay far below the pipeline's minimum text
    length (200 characters). Returns
    (text, n_emails, n_phones)."""
    if not long:
        return f"{tag} {_words(rng, int(rng.integers(4, 12)))}", 0, 0
    paras = []
    n_emails = n_phones = 0
    for _ in range(int(rng.integers(2, 5))):
        para = _words(rng, int(rng.integers(25, 80)))
        r = rng.random()
        if r < 0.15:
            para += f" contact {_email(rng)} for details"
            n_emails += 1
        elif r < 0.25:
            para += f" telephone {_phone(rng)} during office hours"
            n_phones += 1
        paras.append(para)
    return f"{tag} " + "\n\n".join(paras), n_emails, n_phones


def _html(text: str) -> str:
    """Wrap plain text in crawled-page markup; the pipeline's HTML
    extractor recovers the paragraphs and drops script and style."""
    paras = "".join(f"<p>{p}</p>" for p in text.split("\n\n"))
    return (
        "<html><head><style>p {margin: 0}</style>"
        "<script>var t = 1;</script></head>"
        f"<body><div>{paras}</div><!-- crawl footer --></body></html>"
    )


def _pdf_bytes(lines: list[str]) -> bytes:
    """A one-page PDF whose content stream is FlateDecode-compressed."""
    ops = ["BT", "/F1 10 Tf", "72 760 Td", "12 TL"]
    for ln in lines:
        ops.append("(" + ln.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)") + ") '")
    ops.append("ET")
    stream = zlib.compress("\n".join(ops).encode("latin-1"))
    objects = [
        b"<</Type/Catalog/Pages 2 0 R>>",
        b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
        b"<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]"
        b"/Resources<</Font<</F1 5 0 R>>>>/Contents 4 0 R>>",
        b"<</Length %d/Filter/FlateDecode>>\nstream\n" % len(stream)
        + stream
        + b"\nendstream",
        b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objects, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + obj + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objects) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<</Size %d/Root 1 0 R>>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objects) + 1,
        xref,
    )
    return bytes(out)


# raw record schema as Spark DDL; `license:` is the crawler quirk key
RAW_SCHEMA = (
    "identifier STRING, title STRING, description STRING, source STRING, "
    "date STRING, collection_time STRING, license STRING, `license:` STRING, "
    "tags ARRAY<STRING>, language STRING, format STRING, text STRING, "
    "data_file STRING, publisher STRING"
)


def crawl_corpus(out_dir: str, seed: int, n_records: int, n_pdfs: int) -> dict:
    """Write ``<out_dir>/raw/<source>.jsonl`` and ``<out_dir>/pdfs/*.pdf``.

    About 10% of records carry HTML markup, about 5% are exact copies of
    an earlier record's text, about 8% are shorter than the minimum length,
    and some paragraphs carry an email address or a UK mobile number.
    Returns the truth: input counts, the exact survivor count after
    dedup and the minimum-length filter, and the planted PII counts."""
    rng = np.random.default_rng([seed, 1])
    raw_dir = os.path.join(out_dir, "raw")
    pdf_dir = os.path.join(out_dir, "pdfs")
    os.makedirs(raw_dir, exist_ok=True)
    os.makedirs(pdf_dir, exist_ok=True)
    per_source: dict[str, list[str]] = {s: [] for s in SOURCES}
    texts: list[str] = []  # distinct long texts so far, for copies
    survivors = 0
    n_dups = n_html = n_short = emails = phones = 0
    for i in range(n_records):
        source = SOURCES[int(rng.integers(0, len(SOURCES)))]
        r = rng.random()
        fmt = "text"
        if r < 0.05 and texts:
            text = texts[int(rng.integers(0, len(texts)))]
            n_dups += 1
        elif r < 0.13:
            text, _, _ = _body(rng, f"r{seed}x{i}", long=False)
            n_short += 1
        else:
            text, ne, nph = _body(rng, f"r{seed}x{i}", long=True)
            if r < 0.23:
                text = _html(text)
                n_html += 1
            else:
                texts.append(text)
            emails += ne
            phones += nph
            survivors += 1
        day = int(rng.integers(1, 28))
        rec = {
            "identifier": _uuid(seed, i),
            "title": f"{source} record {i}: {_words(rng, 4)}",
            "description": _words(rng, 12),
            "source": source,
            "date": f"20{int(rng.integers(10, 25)):02d}-{int(rng.integers(1, 13)):02d}-{day:02d}",
            "collection_time": f"2025-06-{day:02d}T12:00:00Z",
            "tags": [_WORDS[int(j)] for j in rng.integers(0, len(_WORDS), 3)],
            "language": _LANGS[int(rng.integers(0, len(_LANGS)))],
            "format": fmt,
            "text": text,
            "data_file": f"{source}/{i}.json",
            "publisher": f"{source} publisher {int(rng.integers(0, 20))}",
        }
        # gov.uk writes the canonical key; the other crawlers write the
        # trailing-colon quirk key the canonical builder ignores
        lic = _LICENSES[int(rng.integers(0, len(_LICENSES)))]
        rec["license" if source == "gov.uk" else "license:"] = lic
        per_source[source].append(json.dumps(rec, sort_keys=True))
    for source, lines in per_source.items():
        with open(os.path.join(raw_dir, f"{source}.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")
    pdf_chars = 0
    for j in range(n_pdfs):
        lines = [f"pdf{seed}x{j} {_words(rng, 8)}" for _ in range(int(rng.integers(20, 40)))]
        with open(os.path.join(pdf_dir, f"doc{j:04d}.pdf"), "wb") as f:
            f.write(_pdf_bytes(lines))
        pdf_chars += sum(len(ln) for ln in lines)
    return {
        "n_records": n_records,
        "n_pdfs": n_pdfs,
        "n_input": n_records + n_pdfs,
        "survivors": survivors + n_pdfs,
        "n_dups": n_dups,
        "n_html": n_html,
        "n_short": n_short,
        "emails": emails,
        "phones": phones,
    }


def input_bytes(out_dir: str) -> int:
    total = 0
    for sub in ("raw", "pdfs"):
        d = os.path.join(out_dir, sub)
        total += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
    return total


# --------------------------------------------------------------- analytics

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_DOC_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def _write_table(out_dir: str, name: str, cols: dict, types: dict) -> None:
    arrays = [pa.array(v, type=types[k]) for k, v in cols.items()]
    table = pa.Table.from_arrays(arrays, names=list(cols))
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _pick(rng: np.random.Generator, values, n: int) -> list:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d = np.datetime64(lo)
    span = int((np.datetime64(hi) - lo_d) / np.timedelta64(1, "D"))
    return (lo_d + rng.integers(0, span, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def analytics_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write the ten tables at scale factor ``sf`` (sf 0.01 gives 60k
    lineitem rows). Returns the row count of each table."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_orders = max(int(1_500_000 * sf), 200)
    n_line = 4 * n_orders
    n_events = max(int(1_000_000 * sf), 500)
    n_users = max(int(15_000 * sf), 20)
    n_docs = max(int(50_000 * sf), 100)
    n_vecs = max(int(50_000 * sf), 100)
    counts = {}

    def write(name, cols, types):
        _write_table(out_dir, name, cols, types)
        counts[name] = len(next(iter(cols.values())))

    write("region", {"r_regionkey": list(range(5)), "r_name": list(_REGIONS)},
          {"r_regionkey": i32, "r_name": s})
    write(
        "nation",
        {
            "n_nationkey": list(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)],
        },
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32},
    )

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    write(
        "customer",
        {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        },
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64, "c_mktsegment": s},
    )
    write(
        "supplier",
        {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64},
    )
    write(
        "part",
        {
            "p_partkey": np.arange(n_part),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
        },
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32,
         "p_retailprice": f64},
    )
    write(
        "orders",
        {
            "o_orderkey": np.arange(n_orders),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_orders),
            "o_totalprice": money(1000, 500_000, n_orders),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-02", n_orders),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_orders),
        },
        {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s, "o_totalprice": f64,
         "o_orderdate": ts, "o_orderpriority": s},
    )
    write(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, n_orders, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-05", n_line),
        },
        {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32,
         "l_quantity": f64, "l_extendedprice": f64, "l_discount": f64, "l_tax": f64,
         "l_returnflag": s, "l_linestatus": s, "l_shipdate": ts},
    )
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    write(
        "events",
        {
            "event_id": np.arange(n_events),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + ev_ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": _pick(rng, _EVENT_TYPES, n_events),
            "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
        {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s, "value": f64, "props": s},
    )
    texts = []
    for _ in range(n_docs):
        if texts and rng.random() < 0.002:
            texts.append(texts[int(rng.integers(0, len(texts)))])
            continue
        words = _pick(rng, _DOC_VOCAB, int(rng.integers(10, 100)))
        if rng.random() < 0.05:
            words[int(rng.integers(0, len(words)))] = "dup"
        texts.append(" ".join(words))
    write(
        "documents",
        {
            "doc_id": np.arange(n_docs),
            "text": texts,
            "lang": _pick(rng, _DOC_LANGS, n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts],
        },
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64},
    )
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(
        "embeddings",
        {
            "vec_id": np.arange(n_vecs),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        },
        {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32},
    )
    return counts


def query_texts(seed: int, n: int) -> list[str]:
    """``n`` short search phrases over the corpus vocabulary, seeded; the
    search workload embeds them into its query vectors."""
    rng = np.random.default_rng([seed, 3])
    return [_words(rng, int(rng.integers(3, 7))) for _ in range(n)]
