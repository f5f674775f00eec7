"""Test fixtures: the reference repo's real 1,000-record crawl-log sample
(read as DATA from the read-only reference checkout) and a synthetic crawl
feed covering every launcher branch (FIXTURES.md §3)."""

from __future__ import annotations

import json
import os

REFERENCE_FRAGMENT = "/root/reference/crawl_log_fragment.json"


def crawl_log_path() -> str | None:
    return REFERENCE_FRAGMENT if os.path.exists(REFERENCE_FRAGMENT) else None


#: One target per launcher decision branch; paired with NOW values below.
CRAWL_FEED = [
    # empty seeds → P-12 error branch (launcher.py:58-61)
    {"id": 1, "title": "no-seeds", "seeds": [], "depth": "CAPPED",
     "scope": "root", "ignoreRobotsTxt": False, "watched": False,
     "schedules": [{"startDate": "2020-01-01 09:00:00", "endDate": "",
                    "frequency": "DAILY"}]},
    # DAILY at 09: launches any day at hour 09
    {"id": 2, "title": "daily", "seeds": ["https://daily.example.org/"],
     "depth": "CAPPED", "scope": "root", "ignoreRobotsTxt": False,
     "watched": True,
     "schedules": [{"startDate": "2020-01-01 09:00:00", "endDate": "",
                    "frequency": "DAILY"}]},
    # WEEKLY anchored Wednesday 2020-01-01 at 10
    {"id": 3, "title": "weekly", "seeds": ["https://weekly.example.org/"],
     "depth": "CAPPED_LARGE", "scope": "subdomains", "ignoreRobotsTxt": True,
     "watched": False,
     "schedules": [{"startDate": "2020-01-01 10:00:00", "endDate": "",
                    "frequency": "WEEKLY"}]},
    # MONTHLY on the 15th at 03; scope uses the domain value 'plus1Scope'
    # (reference launcher.py:183)
    {"id": 4, "title": "monthly", "seeds": ["https://monthly.example.org/"],
     "depth": "DEEP", "scope": "plus1Scope", "ignoreRobotsTxt": False,
     "watched": False,
     "schedules": [{"startDate": "2020-03-15 03:00:00", "endDate": "",
                    "frequency": "MONTHLY"}]},
    # QUARTERLY anchored Feb 10 at 06 (month%3 == 2)
    {"id": 5, "title": "quarterly", "seeds": ["https://q.example.org/"],
     "depth": "CAPPED", "scope": "root", "ignoreRobotsTxt": False,
     "watched": False,
     "schedules": [{"startDate": "2020-02-10 06:00:00", "endDate": "",
                    "frequency": "QUARTERLY"}]},
    # SIXMONTHLY anchored Jan 20 at 07
    {"id": 6, "title": "sixmonthly", "seeds": ["https://h.example.org/"],
     "depth": "CAPPED", "scope": "root", "ignoreRobotsTxt": False,
     "watched": False,
     "schedules": [{"startDate": "2020-01-20 07:00:00", "endDate": "",
                    "frequency": "SIXMONTHLY"}]},
    # ANNUAL on Apr 01 at 08
    {"id": 7, "title": "annual", "seeds": ["https://a.example.org/"],
     "depth": "CAPPED", "scope": "root", "ignoreRobotsTxt": False,
     "watched": False,
     "schedules": [{"startDate": "2020-04-01 08:00:00", "endDate": "",
                    "frequency": "ANNUAL"}]},
    # DOMAINCRAWL → never launched by this tool (launcher.py:128-130)
    {"id": 8, "title": "domaincrawl", "seeds": ["https://d.example.org/"],
     "depth": "CAPPED", "scope": "root", "ignoreRobotsTxt": False,
     "watched": False,
     "schedules": [{"startDate": "2020-01-01 09:00:00", "endDate": "",
                    "frequency": "DOMAINCRAWL"}]},
    # bogus frequency → error branch (launcher.py:131-134)
    {"id": 9, "title": "bogus-freq", "seeds": ["https://b.example.org/"],
     "depth": "CAPPED", "scope": "root", "ignoreRobotsTxt": False,
     "watched": False,
     "schedules": [{"startDate": "2020-01-01 09:00:00", "endDate": "",
                    "frequency": "FORTNIGHTLY"}]},
    # null startDate → P-13 skip (launcher.py:75-77)
    {"id": 10, "title": "no-start", "seeds": ["https://n.example.org/"],
     "depth": "CAPPED", "scope": "root", "ignoreRobotsTxt": False,
     "watched": False,
     "schedules": [{"startDate": None, "endDate": "", "frequency": "DAILY"}]},
    # ended schedule → P-13 end filter
    {"id": 11, "title": "ended", "seeds": ["https://e.example.org/"],
     "depth": "CAPPED", "scope": "root", "ignoreRobotsTxt": False,
     "watched": False,
     "schedules": [{"startDate": "2020-01-01 09:00:00",
                    "endDate": "2020-06-01 00:00:00", "frequency": "DAILY"}]},
    # twitter seed → parallel_queues=2 (launcher.py:195-197); 2 seeds
    {"id": 12, "title": "twitter",
     "seeds": ["https://twitter.com/ukwebarchive", "https://t.example.org/"],
     "depth": "CAPPED", "scope": "root", "ignoreRobotsTxt": False,
     "watched": False,
     "schedules": [{"startDate": "2020-01-01 09:00:00", "endDate": "",
                    "frequency": "DAILY"}]},
]


def write_crawl_feed(tmpdir: str) -> str:
    path = os.path.join(tmpdir, "crawl_feed.jsonl")
    with open(path, "w") as f:
        for t in CRAWL_FEED:
            f.write(json.dumps(t) + "\n")
    return path


def write_crawl_log_sample(tmpdir: str, n: int = 240, n_malformed: int = 6,
                           seed: int = 7) -> str:
    """Deterministic synthetic crawl log in the reference sample's shape
    (FIXTURES.md §1): both record variants, negative Heritrix status codes,
    same-host and cross-host referrers, non-http URL schemes, every
    annotation class, NULL fields, two event dates, and ``n_malformed``
    lines cut mid-record. Used where the reference sample is absent."""
    import datetime as dt
    import random

    rng = random.Random(seed)
    hosts = [f"h{i}.example.org" for i in range(12)] + ["WWW.Example.COM:80"]
    t0 = dt.datetime(2021, 1, 16, 23, 58, 0)
    bad_at = set(rng.sample(range(n + n_malformed), n_malformed))
    lines = []
    for i in range(n + n_malformed):
        ts = (t0 + dt.timedelta(milliseconds=997 * i)).strftime(
            "%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
        host = rng.choice(hosts)
        kind = rng.random()
        if kind < 0.06:
            url = f"dns:{host}"
        elif kind < 0.1:
            url = f"screenshot:https://{host}/p{i}"
        else:
            scheme = rng.choice(["https", "https", "http"])
            q = rng.choice(["", "?b=2&a=1", "?z=0"])
            frag = rng.choice(["", "#top"])
            url = f"{scheme}://{host}/p{i % 17}{q}{frag}"
        status = rng.choice([200, 200, 301, 404, -5003, -5003, -6])
        annots = ",".join(rng.sample(
            ["ip:10.0.0.%d" % (i % 250), "launchTimestamp:2021011617040912",
             "dol:3", "duplicate:digest", "3t", "Q:serverMaxSuccessKb",
             "WebRenderStatus:200", "reset Quotas"], rng.randrange(0, 4)))
        rec = {"url": url, "timestamp": ts, "status_code": status,
               "annotations": annots}
        if status > 0:
            rec["content_digest"] = "sha1:%032d" % (i % 40)
            rec["content_length"] = 100 + i
            rec["start_time_plus_duration"] = "20210116170409885+%d" % i
        if rng.random() < 0.9:
            via_host = rng.choice([host, rng.choice(hosts)])
            rec.update({
                "hop_path": rng.choice(["", "L", "LLE", "LRX", "P"]),
                "via": rng.choice([f"https://{via_host}/", None]),
                "seed": f"tid:{i % 5}:https://{via_host}/",
                "thread": rng.randrange(1, 400),
                "crawl_name": "frequent-npld",
                "mimetype": rng.choice(["text/html", "image/png", None]),
                "size": rec.get("content_length"),
                "extra_info": {"scopeDecision": "ACCEPT"},
            })
        else:
            rec.update({
                "http_method": "GET", "wire_bytes": 500 + i,
                "content_type": rng.choice(["text/html", None]),
                "warc_type": "response", "warc_filename": f"BL-{i}.warc.gz",
                "warc_offset": 1000 * i,
            })
        line = json.dumps(rec)
        if i in bad_at:
            line = line[: len(line) // 3]
        lines.append(line)
    path = os.path.join(tmpdir, "crawl_log_sample.jsonl")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return path
