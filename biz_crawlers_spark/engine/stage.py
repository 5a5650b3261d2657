"""Fused fetch → classify → extract → decode stage (mapInPandas).

One narrow (no-shuffle) stage does everything the reference does per URL
(DetailCrawler.php:105-236 / GCISCrawler.php:118-208): politeness-scheduled
fetch with in-place throttle/junk retries, sentinel classification, robots
enforcement, figure extraction, image decode, record parsing, and pagination
discovery. Fusing matters at scale: page bodies are never shuffled — only
extracted image rows and small status rows leave the worker.

Per-host ordering inside a partition follows the frontier order key, and the
fetch stage is hash-partitioned BY HOST (engine/crawl.py), so per-host
politeness is globally correct (one host is never split across partitions)
and per-host crawl order reproduces the reference's sequential order
(SURVEY.md §7: global order = merge of per-host orders).

Retries are in-place (sleep-and-retry, mirroring P4-P6: throttle→retry
DetailCrawler.php:162-168, transport backoff BaseCrawler.php:84-106) so a URL
reaches a terminal state within its epoch; waiting is budget seconds scaled
by ``budget.time_scale`` (0 ⇒ virtual time: identical schedule and order, no
wall-clock sleeping — how tests/bench run).
"""

from __future__ import annotations

import hashlib
import json
import time
from collections.abc import Iterator
from urllib.parse import parse_qs, urlsplit

import pandas as pd

from biz_crawlers_spark import codecs
from biz_crawlers_spark.extract.pages import (
    build_entity_record,
    classify_page,
    extract_figures,
    parse_school_rows,
    parse_search_results,
    pick_latest,
)
from biz_crawlers_spark.hashing import spark_xxhash64
from biz_crawlers_spark.engine.transport import make_transport
from biz_crawlers_spark.politeness.budget import PolitenessBudget
from biz_crawlers_spark.politeness.robots import is_allowed, parse_robots

# ``seq``/``epoch``/``corrupt`` carry the IMAGES/RECORDS table column names
# and values directly: the staging write is partitioned by row_type, so the
# image/record payload files are, byte-for-byte, valid table data files —
# the epoch commit ADOPTS them by hard link (SnapTable.adopt_files) instead of
# reading + re-shuffling + re-writing the payload (bytes are written
# exactly ONCE per epoch).
STAGE_DDL = (
    "row_type string, url_key long, canonical_url string, host string, status string, "
    "attempts int, host_seq long, partition_id int, scheduled_at double, "
    "seq int, image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, entity_id string, entity_name string, "
    "entity_names string, address string, change_date string, biz_items string, "
    "shareholders string, managers string, capital string, parse_mode string, "
    "category string, discovered_url string, priority int, parent_key long, "
    "n_payload int, epoch int, corrupt boolean"
)

_STAGE_COLS = [c.split(":")[0].strip().split(" ")[0] for c in STAGE_DDL.split(", ")]

ORDER_SORT = ["priority", "org_idx", "type_idx", "page", "url_key"]

TERMINAL_OK = ("ok", "not_found")


_INT_COLS = {
    "url_key": "Int64", "phash": "Int64", "host_seq": "Int64", "attempts": "Int32",
    "partition_id": "Int32", "seq": "Int32", "w": "Int32", "h": "Int32",
    "priority": "Int32", "n_payload": "Int32", "epoch": "Int32",
}


def _to_frame(rows: list[dict]) -> pd.DataFrame:
    """Exact-integer frame: building from dicts would let pandas infer
    float64 for int columns containing None, silently destroying the low
    bits of 64-bit hashes (float64 mantissa is 52 bits). Construct as
    object, then cast to nullable Int64/Int32."""
    pdf = pd.DataFrame(rows, columns=_STAGE_COLS, dtype=object)
    for c, t in _INT_COLS.items():
        pdf[c] = pdf[c].astype(t)
    pdf["scheduled_at"] = pdf["scheduled_at"].astype("float64")
    pdf["corrupt"] = pdf["corrupt"].astype("boolean")
    return pdf


def _blank_row(**kw) -> dict:
    row = {c: None for c in _STAGE_COLS}
    row.update(kw)
    return row


def _decode_figures(body: bytes, url_key: int, host: str) -> list[dict]:
    rows = []
    for fig in extract_figures(body):
        try:
            pixels = codecs.decode(fig["bytes"], fig["fmt"])
        except Exception:
            continue  # warn-and-skip semantics (BaseCrawler.php:176-183)
        rows.append(
            _blank_row(
                row_type="image",
                url_key=url_key,
                host=host,
                seq=fig["seq"],
                image_id=hashlib.sha256(fig["bytes"]).hexdigest()[:16],
                bytes=fig["bytes"],
                w=int(pixels.shape[1]),
                h=int(pixels.shape[0]),
                fmt=fig["fmt"],
                caption=fig["caption"],
                phash=codecs.phash64(pixels),
            )
        )
    return rows


def _raise_on_json_constant(_v):
    # strictness twin of Spark's try_parse_json, which rejects the
    # non-standard NaN/Infinity/-Infinity tokens that Python's json module
    # accepts by default (ADVICE r5): without this, an adopted staging file
    # would carry corrupt=false where a merge (the adopt's patch rows, a
    # compaction) computes corrupt=true and the D7 invalidation probe would miss the record
    raise ValueError("non-standard JSON constant")


def _reject_duplicate_keys(pairs: list) -> dict:
    # try_parse_json builds a Variant, which rejects an object (at any
    # depth) that repeats a key after unescaping
    if len({k for k, _ in pairs}) != len(pairs):
        raise ValueError("duplicate object key")
    return dict(pairs)


_JSON_WS = " \t\n\r"
_STRICT_JSON = json.JSONDecoder(
    parse_constant=_raise_on_json_constant,
    object_pairs_hook=_reject_duplicate_keys,
)


def _record_corrupt(biz_items) -> bool:
    """Python twin of frontier.seed.RECORDS_CORRUPT_EXPR
    (``biz_items IS NOT NULL AND try_parse_json(biz_items) IS NULL``) so
    adopted staging files carry the D7 generated column pre-computed (every
    merge recomputes it via the SQL expr; equivalence is pinned
    input by input against Spark in tests/test_round5_ops.py).

    Spark parses ONE root value and ignores what follows it, except that a
    root number must be followed by whitespace and a root true/false/null
    by a non-identifier character (``'{"a":1} x'`` is valid, ``'1]'`` and
    ``'truex'`` are not)."""
    if biz_items is None:
        return False
    s = biz_items.lstrip(_JSON_WS)
    try:
        value, end = _STRICT_JSON.raw_decode(s)
    except ValueError:
        return True
    if end == len(s) or isinstance(value, (dict, list, str)):
        return False
    nxt = s[end]
    if isinstance(value, bool) or value is None:
        return nxt.isalnum() or nxt in "_$"
    return nxt not in _JSON_WS


def _extract_record(body: bytes, url_key: int, host: str) -> list[dict]:
    """Full detail-record extraction (X4-X8, X12, X13, X19): delegated to the
    shared ``build_entity_record`` (extract/pages.py) so the Spark stage and
    the reference simulator parse identically; the stage only maps the record
    dict onto the staging schema."""
    out = []
    rec = build_entity_record(body)
    if rec is not None:
        cat = None
        text = body.decode("utf-8", errors="replace")
        if "category:" in text:
            cat = text.split("category:", 1)[1].split("<", 1)[0]
        out.append(_blank_row(row_type="record", url_key=url_key, host=host,
                              category=cat,
                              corrupt=_record_corrupt(rec.get("biz_items")),
                              **rec))
    for cat, tax_id, name in parse_school_rows(body):
        out.append(
            _blank_row(
                row_type="record",
                url_key=url_key,
                host=host,
                entity_id=tax_id.rjust(8, "0"),
                entity_name=name,
                entity_names=json.dumps([name], ensure_ascii=False),
                category=cat,
                corrupt=False,
                biz_items="[]",
                shareholders="[]",
                managers="[]",
                capital="[]",
                parse_mode="dom",
            )
        )
    return out


def _discoveries(url: str, body: bytes, url_key: int, host: str, priority: int) -> list[dict]:
    """Dynamic frontier growth (F4/S5): next school page iff rows found.
    The discovered page inherits the parent's priority; its page number
    breaks the tie — reproducing the reference's append-at-end-of-queue
    sequencing (SchoolCrawler.php:32) under the engine's priority sort."""
    u = urlsplit(url)
    if not u.path.endswith("/school_list"):
        return []
    if not parse_school_rows(body):
        return []
    cur = int(parse_qs(u.query).get("pages", ["1"])[0])
    # emitted in CANONICAL form: the driver derives url_key with the
    # JVM-side F.xxhash64(discovered_url) — no driver-side re-canonicalize,
    # no collect (F4 stays distributed end-to-end)
    from biz_crawlers_spark.frontier.canonical import canonicalize

    nxt = canonicalize(f"{u.scheme}://{u.netloc}{u.path}?pages={cur + 1}")
    return [
        _blank_row(
            row_type="discovered",
            url_key=url_key,
            host=host,
            discovered_url=nxt,
            priority=priority,
        )
    ]


def request_spec(url: str) -> tuple[str, str | None]:
    """S4 per-row request spec: search URLs POST the qryType/qryCond form
    payload (DetailCrawler.php:141-152); everything else is a plain GET.
    The fixture web VALIDATES the spec — a wrong method/payload yields an
    error page, so the parity suite proves the engine really sends it."""
    u = urlsplit(url)
    if u.path.endswith("/search"):
        qc = parse_qs(u.query).get("qryCond", [""])[0]
        return "POST", f"qryType=cmpyType&qryCond={qc}"
    return "GET", None


def _fetch_with_retries(web, url: str, budget: PolitenessBudget, t: float, wait_until):
    """Politeness-scheduled fetch with in-place throttle/junk retries
    (P4-P6) and the P6 session model: every other retry closes and
    re-warms the session, charging warmup_s to the host clock
    (DetailCrawler.php:218-231). Returns (terminal_status, body, attempts,
    advanced_clock)."""
    status, body, attempts = "error", b"", 0
    method, payload = request_spec(url)
    for attempt in range(budget.max_retries + 1):
        if budget.resets_session(attempt):
            t += budget.warmup_s  # P6: session reinit every 2nd retry
        t += budget.per_request_s
        wait_until(t)
        res = web.fetch(url, attempt=attempt, method=method, payload=payload)
        status = classify_page(res["status"], res["body"])
        body = res["body"]
        attempts = attempt + 1
        if status in TERMINAL_OK:
            break
        t += budget.retry_wait_s(attempt)  # P4/P5 backoff
    return status, body, attempts, t


def make_robots_stage(web_params: dict):
    """Distributed robots.txt resolution (P8 at crawl scale — VERDICT r2
    "What's wrong" #1): one mapInPandas pre-pass over the epoch's MISSING
    hosts fetches and parses each host's robots.txt in the workers; the
    driver's only robots work is submitting this job and MERGEing the result
    into the robots SnapTable — O(1) per epoch regardless of host count.
    Rules are stored as a JSON list (politeness.robots.parse_robots output).
    Robots fetches are not charged to the per-host politeness clock: they
    happen once per host before its budget window opens (the reference has
    no robots at all — SURVEY.md §2.4 P8 is north_rule-new — so schedule
    parity is defined over page fetches only)."""

    def robots_stage(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        web = make_transport(web_params)
        for pdf in iterator:
            hosts, rules = [], []
            for h in pdf["host"]:
                res = web.fetch(f"https://{h}/robots.txt")
                body = res["body"] if res["status"] == "ok" else None
                hosts.append(h)
                rules.append(json.dumps(parse_robots(body)))
            yield pd.DataFrame({"host": hosts, "rules": rules})

    return robots_stage


def make_stage(
    web_params: dict,
    budget: PolitenessBudget,
    archive_pages: bool = False,
    epoch: int = 0,
):
    """Build the mapInPandas function. Robots rules arrive as a per-row
    ``rules`` JSON column (joined from the robots SnapTable by the driver —
    constant within a host group, parsed once per host per partition);
    disallowed URLs get a lineage-counted robots_denied status pre-fetch
    (P8). ``archive_pages`` additionally emits a row_type='page' row per
    fetch result carrying the raw body — the K5 raw-HTML archive
    (status-tagged like DetailCrawler.php:1155-1170) that feeds the D9
    re-parse-without-refetch routing join.

    A row that arrives with a non-null ``body`` column is an archived page
    (D9, DetailCrawler.php:105-123): it is re-parsed instead of fetched and
    emits a status='cached' row (attempts 0, scheduled_at 0.0) plus its
    decoded images and extracted record. It takes its place in the host's
    sequence like any other row, but it skips the robots check, charges no
    politeness time, and archives, discovers and two-hop fetches nothing."""

    def stage(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        web = make_transport(web_params)
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        host_clock: dict[str, float] = {}
        host_seq: dict[str, int] = {}
        wall_start = time.monotonic()

        def wait_until(t_virtual: float) -> None:
            if budget.time_scale > 0:
                target = wall_start + t_virtual * budget.time_scale
                gap = target - time.monotonic()
                if gap > 0:
                    time.sleep(gap)

        warmed_hosts: set[str] = set()
        for pdf in iterator:
            out: list[dict] = []
            pdf = pdf.sort_values(["host", *ORDER_SORT], kind="stable")
            for host, g in pdf.groupby("host", sort=True):
                rules_json = g.iloc[0]["rules"] if "rules" in g.columns else None
                rules = json.loads(rules_json) if isinstance(rules_json, str) else []
                t = host_clock.get(host, 0.0)
                if budget.warmup_requests and host not in warmed_hosts:
                    # S3: a fresh per-host session costs a 2-request warmup
                    # charged before the first real request
                    # (DetailCrawler.php:34-91); one session per worker per
                    # host — in strict mode (host-per-partition) this equals
                    # the reference's one session per crawl
                    t += budget.warmup_s
                    warmed_hosts.add(host)
                for row in g.itertuples(index=False):
                    url = row.canonical_url
                    seq = host_seq.get(host, 0)
                    host_seq[host] = seq + 1
                    if getattr(row, "body", None) is not None:
                        # D9: re-parse the archived body without re-fetch
                        body = bytes(row.body)
                        payload = _decode_figures(body, row.url_key, host)
                        payload += _extract_record(body, row.url_key, host)
                        out.append(
                            _blank_row(
                                row_type="status", url_key=row.url_key,
                                canonical_url=url, host=host, status="cached",
                                attempts=0, host_seq=seq, partition_id=pid,
                                scheduled_at=0.0, n_payload=len(payload),
                            )
                        )
                        out.extend(payload)
                        continue
                    if not is_allowed(url, rules):
                        out.append(
                            _blank_row(
                                row_type="status", url_key=row.url_key,
                                canonical_url=url, host=host, status="robots_denied",
                                attempts=0, host_seq=seq, partition_id=pid,
                                scheduled_at=t,
                            )
                        )
                        continue
                    status, body, attempts, t = _fetch_with_retries(web, url, budget, t, wait_until)
                    out.append(
                        _blank_row(
                            row_type="status", url_key=row.url_key, canonical_url=url,
                            host=host, status=status, attempts=attempts, host_seq=seq,
                            partition_id=pid, scheduled_at=t, n_payload=0,
                        )
                    )
                    sidx = len(out) - 1
                    if archive_pages:
                        out.append(
                            _blank_row(
                                row_type="page", url_key=row.url_key,
                                canonical_url=url, host=host, status=status,
                                bytes=body,
                            )
                        )
                    if status == "ok":
                        payload = _decode_figures(body, row.url_key, host)
                        payload += _extract_record(body, row.url_key, host)
                        out.extend(payload)
                        # n_payload on the status row is what lets the repair
                        # job (D6) distinguish "payload lost" from "page that
                        # legitimately commits nothing under its own key"
                        # (search pages — their payload lands under d_key)
                        out[sidx]["n_payload"] = len(payload)
                        out.extend(
                            _discoveries(url, body, row.url_key, host, row.priority)
                        )
                        # two-hop search → detail (§3.2): the reference
                        # fetches the latest-by-date detail page immediately
                        # inside the same loop iteration
                        # (DetailCrawler.php:105-236); same here — politeness
                        # clock carries over, order is exactly the reference's
                        detail_url = pick_latest(parse_search_results(body))
                        if detail_url and "/search" in url:
                            d_status, d_body, d_attempts, t = _fetch_with_retries(
                                web, detail_url, budget, t, wait_until
                            )
                            d_key = spark_xxhash64(detail_url)
                            out.append(
                                _blank_row(
                                    row_type="status", url_key=d_key,
                                    canonical_url=detail_url, host=host,
                                    status=d_status, attempts=d_attempts,
                                    host_seq=None, partition_id=pid,
                                    scheduled_at=t, parent_key=row.url_key,
                                    n_payload=0,
                                )
                            )
                            didx = len(out) - 1
                            if archive_pages:
                                out.append(
                                    _blank_row(
                                        row_type="page", url_key=d_key,
                                        canonical_url=detail_url, host=host,
                                        status=d_status, bytes=d_body,
                                    )
                                )
                            if d_status == "ok":
                                d_payload = _decode_figures(d_body, d_key, host)
                                d_payload += _extract_record(d_body, d_key, host)
                                out.extend(d_payload)
                                out[didx]["n_payload"] = len(d_payload)
                host_clock[host] = t
            for r in out:  # stamp provenance: every row (incl. payload rows)
                r["partition_id"] = pid
                r["epoch"] = epoch
            yield _to_frame(out)

    return stage
