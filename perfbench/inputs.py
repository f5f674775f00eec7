"""Seeded input generators and expected results.

Everything here runs in the harness process, before the timed process
starts: the engine only ever sees the files written here. Each generator is
a pure function of its seed, so the same seed gives byte-identical inputs.

- ``crawl_corpus``: a crawl-log JSONL file in the FIXTURES.md section 1
  shapes (Heritrix and WebRender variants, negative status codes,
  ``dns:``/``screenshot:`` URLs, a Zipf-skewed host distribution, a known
  number of malformed lines) plus the exact counts the checks compare with.
- ``stream_plan``: the per-file event payloads of the open-loop generator,
  with the event timestamp left as a placeholder that is stamped with the
  file's due time when the file is written.
- ``registry_tables``: the ten registry tables (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``) and, per bench query, the hash
  of the DuckDB oracle result.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil

from perfbench.measure import result_digest

TS_PLACEHOLDER = "@@TS@@"

#: status codes at their counts in the 1,000-record sample (FIXTURES.md section 1)
_STATUS = [(-5003, 838), (200, 128), (301, 11), (303, 9), (-6, 7), (204, 4), (-5002, 3)]
#: URL schemes: about 99 % ``https://`` as in the sample; every rarer scheme
#: FIXTURES.md section 1 names gets a small share, large enough that each
#: branch appears in every corpus and in most stream files
_SCHEMES = [("https", 9880), ("http", 40), ("dns", 25), ("screenshot", 20),
            ("thumbnail", 15), ("imagemap", 10), ("android-app", 10)]
_ANNOTATIONS = [
    "ip:{ip}", "launchTimestamp:20210116170000", "dol:3", "Q:serverMaxSuccessKb",
    "duplicate:digest", "2t", "WebRenderStatus:200", "resetQuotas",
]
_MIMETYPES = ["text/html", "image/png", "image/jpeg", "application/pdf", "unknown", None]
_B32 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"


def _weighted(rng: random.Random, pairs):
    values, weights = zip(*pairs)
    return rng.choices(values, weights)[0]


def zipf_hosts(rng: random.Random, n_hosts: int, s: float = 1.1):
    """Host names and their Zipf weights (rank r gets weight 1 / r**s)."""
    names = [f"www.site{i:04d}.example.{rng.choice(['org', 'com', 'co.uk'])}"
             for i in range(n_hosts)]
    return names, [1.0 / (r + 1) ** s for r in range(n_hosts)]


def engine_host(url: str) -> str | None:
    """The grouping host the engine derives from a generated URL
    (``functions.crawl.host_of``): ``dns:<host>`` gives the host, a
    hierarchical ``http(s)://`` or ``android-app://`` URL its authority, an
    opaque one (``screenshot:<url>`` and the like) none."""
    if url.startswith("dns:"):
        return url[4:]
    if url.startswith(("http://", "https://", "android-app://")):
        return url.split("/", 3)[2]
    return None


class CrawlRecords:
    """Seeded crawl-log record generator shared by the batch corpus and the
    stream files."""

    def __init__(self, seed: int, n_hosts: int):
        self.rng = random.Random(seed)
        self.hosts, self.weights = zipf_hosts(self.rng, n_hosts)
        self.digests = [
            "sha1:" + "".join(self.rng.choice(_B32) for _ in range(32)) for _ in range(200)
        ]

    def record(self, timestamp: str) -> dict:
        rng = self.rng
        host = rng.choices(self.hosts, self.weights)[0]
        path = f"/{rng.choice(['news', 'blog', 'img', 'a'])}/{rng.randrange(10**6)}"
        scheme = _weighted(rng, _SCHEMES)
        if scheme == "dns":
            url = f"dns:{host}"
        elif scheme == "android-app":
            url = f"android-app://com.{host.split('.')[1]}.app/https/{host}{path}"
        elif scheme in ("https", "http"):
            url = f"{scheme}://{host}{path}"
        else:  # an opaque wrapper around the fetched page's URL
            url = f"{scheme}:https://{host}{path}"
        status = _weighted(rng, _STATUS)
        ok = status > 0
        rec = {
            "url": url,
            "timestamp": timestamp,
            "status_code": status,
            "host": host if scheme in ("https", "http", "dns") else None,
            "content_digest": rng.choice(self.digests) if ok else None,
            "content_length": rng.randrange(200, 200_000) if ok else None,
            "start_time_plus_duration": (
                None if status == -5003
                else f"20210116{rng.randrange(10**9):09d}+{rng.randrange(2000)}"
            ),
            "annotations": ",".join(
                a.format(ip=f"10.{rng.randrange(256)}.{rng.randrange(256)}.1")
                for a in rng.sample(_ANNOTATIONS, rng.randrange(0, 4))
            ),
            "warc_filename": (
                f"BL-NPLD-20210116170409885-{rng.randrange(10**5):05d}.warc.gz"
                if ok and rng.random() < 0.3 else None
            ),
            "warc_offset": rng.randrange(10**9) if ok else None,
        }
        if rng.random() < 0.95:  # Heritrix variant
            same_host = rng.random() < 0.5
            via_host = host if same_host else rng.choice(self.hosts)
            rec.update(
                hop_path="".join(rng.choice("LEIRPX") for _ in range(rng.randrange(13))),
                via=f"https://{via_host}/",
                seed=f"tid:{rng.randrange(1, 5000)}:https://{host}/",
                thread=rng.randrange(1, 401),
                crawl_name="frequent-npld",
                mimetype=rng.choice(_MIMETYPES),
                size=rng.randrange(100, 300_000) if ok else None,
                extra_info={"scopeDecision": "ACCEPT by rule #2"},
            )
        else:  # WebRender variant
            rec.update(
                http_method=rng.choice(["GET", "WARCPROX_WRITE_RECORD"]),
                wire_bytes=rng.randrange(100, 300_000),
                content_type=rng.choice(["text/html", "image/png"]),
                warc_type=rng.choice(["response", "resource"]),
                warc_id=f"<urn:uuid:{rng.getrandbits(128):032x}>",
                warc_length=rng.randrange(100, 300_000),
                warc_content_type="application/http;msgtype=response",
            )
        return rec


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def _atomic_json(path: str, doc) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, path)


def crawl_corpus(out_dir: str, seed: int, n_records: int, n_malformed: int,
                 n_hosts: int = 400) -> dict:
    """Write ``crawl.jsonl`` and return the exact expectations of the three
    CLI operations over it."""
    gen = CrawlRecords(seed, n_hosts)
    rng = gen.rng
    t0 = dt.datetime(2021, 1, 16, 17, 0, 0)
    bad_at = set(rng.sample(range(n_records + n_malformed), n_malformed))
    lines, stamps = [], []
    http_hosts: dict[str, int] = {}
    step_ms = 20
    for i in range(n_records + n_malformed):
        ts = _iso(t0 + dt.timedelta(milliseconds=i * step_ms + rng.randrange(step_ms)))
        rec = gen.record(ts)
        line = json.dumps(rec)
        if i in bad_at:
            # a line cut mid-record: the reader's parse error path
            lines.append(line[: rng.randrange(5, len(line) // 2)])
            continue
        lines.append(line)
        stamps.append(ts)
        if rec["url"].startswith("http"):
            h = engine_host(rec["url"])
            http_hosts[h] = http_hosts.get(h, 0) + 1
    # seeded event-time window covering about a tenth of the corpus
    lo = rng.randrange(0, len(stamps) - len(stamps) // 10)
    ts_from = stamps[lo][:19]
    ts_to = stamps[lo + len(stamps) // 10][:19]
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "crawl.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return {
        "records": n_records + n_malformed,
        "valid": n_records,
        "malformed": n_malformed,
        "host_totals": http_hosts,
        "window": [ts_from, ts_to],
        "window_rows": sum(1 for s in stamps if ts_from <= s < ts_to),
    }


def stream_plan(seed: int, n_files: int, events_per_file: int, n_hosts: int = 120):
    """Per-file payloads (timestamp placeholder left in) and, per file, the
    count of events for each engine host key (``None`` for URLs with no
    host)."""
    gen = CrawlRecords(seed, n_hosts)
    payloads, counts = [], []
    for _ in range(n_files):
        recs = [gen.record(TS_PLACEHOLDER) for _ in range(events_per_file)]
        c: dict[str | None, int] = {}
        for r in recs:
            h = engine_host(r["url"])
            c[h] = c.get(h, 0) + 1
        payloads.append("\n".join(json.dumps(r) for r in recs) + "\n")
        counts.append(c)
    return payloads, counts


# -- registry tables ---------------------------------------------------------

_NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_WORDS = (
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window index shard commit log crawl host fetch page"
).split()


def _tables(seed: int, scale: int) -> dict:
    """Column dicts of the ten tables; ``scale`` 1 is the size of the sf0.01
    test data described in TESTDATA.md (60k lineitem rows)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 1500 * scale, 100 * scale, 2000 * scale
    n_ord, n_ev, n_doc, n_emb = 15000 * scale, 10000 * scale, 500 * scale, 500 * scale
    day = np.timedelta64(1, "D")
    d0 = np.datetime64("1992-01-01T00:00:00", "us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS},
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [n for n, _ in _NATIONS],
            "n_regionkey": np.array([r for _, r in _NATIONS], dtype=np.int32),
        },
        "customer": {
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": list(rng.choice(_SEGMENTS, n_cust)),
        },
        "supplier": {
            "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": money(-999, 9999, n_supp),
        },
        "part": {
            "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(1, n_part + 1)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
            "p_type": list(rng.choice(["STANDARD BRASS", "SMALL TIN", "LARGE STEEL",
                                       "ECONOMY COPPER", "PROMO NICKEL"], n_part)),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": money(900, 2000, n_part),
        },
    }
    odate = d0 + rng.integers(0, 2400, n_ord) * day
    t["orders"] = {
        "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64) * 4,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord, dtype=np.int64),
        "o_orderstatus": list(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": money(1000, 400000, n_ord),
        "o_orderdate": odate,
        "o_orderpriority": list(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
    }
    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    o_idx = np.repeat(np.arange(n_ord), per_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": t["orders"]["o_orderkey"][o_idx],
        "l_partkey": rng.integers(1, n_part + 1, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li, dtype=np.int64),
        "l_linenumber": (np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order,
                                                     per_order) + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * money(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": list(rng.choice(["O", "F"], n_li)),
        "l_shipdate": odate[o_idx] + rng.integers(1, 122, n_li) * day,
    }
    ev_ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                    + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts.astype("datetime64[ns]"),
        "user_id": rng.integers(0, 150 * scale, n_ev, dtype=np.int64),
        "event_type": list(rng.choice(["click", "view", "purchase", "signup", "error"], n_ev)),
        "value": np.round(rng.uniform(0.01, 500, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    words = np.array(_WORDS)
    texts = []
    for i in range(n_doc):
        toks = list(words[rng.integers(0, len(words), rng.integers(20, 80))])
        r = rng.random()
        if texts and r < 0.05:  # exact copy of an earlier document
            toks = texts[rng.integers(0, len(texts))].split()
        elif texts and r < 0.35:  # shared passage from an earlier document
            src = texts[rng.integers(0, len(texts))].split()
            a = int(rng.integers(0, max(1, len(src) - 12)))
            at = int(rng.integers(0, len(toks)))
            toks[at:at] = src[a:a + int(rng.integers(6, 16))]
        texts.append(" ".join(toks))
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(["en", "en", "en", "zh", "es", "de", "fr"], n_doc)),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    labels = rng.integers(0, 5, n_emb)
    centres = rng.normal(0, 0.1, (5, 64))
    emb = (centres[labels] + rng.normal(0, 0.05, (n_emb, 64))).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": labels.astype(np.int32),
    }
    return t


def registry_tables(out_dir: str, seed: int, scale: int, query_names: list[str]) -> dict:
    """Write the ten tables as single-file parquet under ``out_dir/data`` and
    return ``{query: oracle digest}`` computed with DuckDB."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crawl_streams_spark.plans import REGISTRY

    data = os.path.join(out_dir, "data")
    os.makedirs(data, exist_ok=True)
    con = duckdb.connect()
    for name, cols in _tables(seed, scale).items():
        if name == "embeddings":
            cols = dict(cols, embedding=pa.array([v.tolist() for v in cols["embedding"]],
                                                 type=pa.list_(pa.float32())))
        path = os.path.join(data, f"{name}.parquet")
        pq.write_table(pa.table(cols), path, version="2.6")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    expected = {}
    for q in query_names:
        rel = con.sql(REGISTRY[q].oracle)
        expected[q] = result_digest(rel.columns, rel.fetchall())
    return expected


def prepared(cache_root: str, key: str, make) -> dict:
    """Run ``make(dir)`` once per key and cache its JSON-able result; a
    half-written directory from an interrupted run is rebuilt."""
    d = os.path.join(cache_root, key)
    meta = os.path.join(d, "expected.json")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        _atomic_json(meta, make(d))
    with open(meta) as f:
        return json.load(f)
