"""Seeded Execute-style document feed plus the exact outcome the ELT job
must produce on it.

A feed is a list of NDJSON pages. Documents are AFE / VENDOR / TICKET (the
shape of ``SCHEMA`` below) and carry the things the sync path has to get
right: re-synced copies of an earlier version, version bumps, soft deletes,
malformed lines, lines without a ``$VERSION`` and an unknown document type.
``expected`` computes, in plain Python, what landing, the sink, the replay,
``prune`` and the view forest must report for that feed.

Pure Python: no Spark, so the arithmetic is tested on its own.
"""

from __future__ import annotations

import json
import math
import os
import random
from dataclasses import dataclass

SCHEMA = {
    "AFE": {
        "AFE_NUMBER": {"NAME": "AFE_NUMBER", "ACTIVE": True, "TYPE": "TEXT", "NULLABLE": False},
        "ESTIMATE": {"NAME": "ESTIMATE", "ACTIVE": True, "TYPE": "DECIMAL", "NULLABLE": True},
        "IS_CAPITAL": {"NAME": "IS_CAPITAL", "ACTIVE": True, "TYPE": "BOOLEAN", "NULLABLE": False},
        "APPROVED_AT": {"NAME": "APPROVED_AT", "ACTIVE": True, "TYPE": "DATETIME", "NULLABLE": True},
        "OPERATOR": {"NAME": "OPERATOR", "ACTIVE": True, "TYPE": "DOCUMENT", "NULLABLE": True,
                     "DOCUMENT_TYPE": "VENDOR"},
        "DETAILS": {"NAME": "DETAILS", "ACTIVE": True, "TYPE": "RECORD", "NULLABLE": True, "RECORD_TYPE": {
            "COST_CENTER": {"NAME": "COST_CENTER", "ACTIVE": True, "TYPE": "TEXT", "NULLABLE": True},
            "DEPTH_M": {"NAME": "DEPTH_M", "ACTIVE": True, "TYPE": "INTEGER", "NULLABLE": True}}},
        "PARTNERS": {"NAME": "PARTNERS", "ACTIVE": True, "TYPE": "RECORD LIST", "NULLABLE": True, "RECORD_TYPE": {
            "PARTNER": {"NAME": "PARTNER", "ACTIVE": True, "TYPE": "DOCUMENT", "NULLABLE": False,
                        "DOCUMENT_TYPE": "VENDOR"},
            "SHARE": {"NAME": "SHARE", "ACTIVE": True, "TYPE": "INTEGER", "NULLABLE": False}}},
    },
    "VENDOR": {
        "VENDOR_NAME": {"NAME": "VENDOR_NAME", "ACTIVE": True, "TYPE": "TEXT", "NULLABLE": False},
        "RATING": {"NAME": "RATING", "ACTIVE": True, "TYPE": "INTEGER", "NULLABLE": True},
    },
    "TICKET": {
        "SUBJECT": {"NAME": "SUBJECT", "ACTIVE": True, "TYPE": "TEXT", "NULLABLE": True},
        "LINES": {"NAME": "LINES", "ACTIVE": True, "TYPE": "RECORD LIST", "NULLABLE": True, "RECORD_TYPE": {
            "QTY": {"NAME": "QTY", "ACTIVE": True, "TYPE": "INTEGER", "NULLABLE": True},
            "COST": {"NAME": "COST", "ACTIVE": True, "TYPE": "DECIMAL", "NULLABLE": True}}},
    },
}

# view -> integer column the check query sums beside its row count
VIEW_CHECKS = {
    "AFE": "_DELETED",
    "AFE_DETAILS": "DEPTH_M",
    "AFE_PARTNERS": "SHARE",
    "VENDOR": "RATING",
    "TICKET": "_DELETED",
    "TICKET_LINES": "QTY",
}

UNKNOWN_TYPE = "WIDGET"

# Shares of the documents in a page, and lines per page that landing skips
# or lands without a view. Every feed uses these; ``FeedSpec`` sizes it.
RESYNC_RATE = 0.05  # an earlier version sent again
BUMP_RATE = 0.15  # a new version of an existing document
DELETE_RATE = 0.2  # share of the bumps that soft-delete
TYPE_MIX = (0.4, 0.2, 0.4)  # AFE, VENDOR, TICKET
PARTNERS = (0, 4)  # partners per AFE
MALFORMED_PER_PAGE = 2
UNKNOWN_PER_PAGE = 1


@dataclass(frozen=True)
class FeedSpec:
    """Size of one feed: documents per page, in page order, the chunk size
    landing splits long lists by, and the range of lines per TICKET."""

    page_docs: tuple[int, ...]
    chunk_size: int
    ticket_lines: tuple[int, int]


@dataclass
class Expected:
    """What the ELT job must report on a feed (see ``expected``)."""

    lines: int
    skipped: int
    docs: int
    chunk_rows: int
    page_rows: list[int]
    rows_removed: int
    view_rows: dict[str, int]
    view_sums: dict[str, int]
    watermark: str


def page_name(i: int) -> str:
    return f"page_{i:05d}.ndjson"


class _Doc:
    __slots__ = ("type", "id", "version", "deleted", "payload")

    def __init__(self, type_, id_, version, deleted, payload):
        self.type, self.id, self.version = type_, id_, version
        self.deleted, self.payload = deleted, payload

    def record(self) -> dict:
        rec = {
            "$TYPE": self.type,
            "DOCUMENT_ID": self.id,
            "$VERSION": self.version,
            "$AUTHOR_ID": f"u-{self.version % 7}",
            "$DATE": f"2026-03-{1 + self.version % 28:02d}T10:00:00Z",
            "$DELETED": self.deleted,
        }
        rec.update(self.payload)
        return rec

    def line(self) -> str:
        return json.dumps(self.record(), separators=(",", ":"))


def _payload(rng: random.Random, type_: str, spec: FeedSpec, n_vendors: int) -> dict:
    if type_ == "VENDOR":
        return {"VENDOR_NAME": f"vendor {rng.randrange(10**6)}", "RATING": rng.randint(1, 5)}
    if type_ == "TICKET":
        n = rng.randint(*spec.ticket_lines)
        return {
            "SUBJECT": f"ticket {rng.randrange(10**6)}",
            "LINES": [
                {"LISTITEM_ID": f"tl-{i}", "QTY": rng.randint(1, 50), "COST": rng.randint(1, 9999) / 4}
                for i in range(n)
            ],
        }
    n = rng.randint(*PARTNERS)
    vendor = lambda: {"DOCUMENT_ID": f"vnd-{rng.randrange(max(1, n_vendors))}"}  # noqa: E731
    payload = {
        "AFE_NUMBER": f"AFE-{rng.randrange(10**6):06d}",
        "ESTIMATE": rng.randint(1, 10**7) / 8,
        "IS_CAPITAL": rng.random() < 0.5,
        "APPROVED_AT": f"2026-02-{rng.randint(1, 28):02d}T08:30:00Z",
        "OPERATOR": vendor(),
        "PARTNERS": [
            {"LISTITEM_ID": f"li-{i}", "PARTNER": vendor(), "SHARE": rng.randint(1, 100)}
            for i in range(n)
        ],
    }
    if rng.random() < 0.8:
        payload["DETAILS"] = {"COST_CENTER": f"CC-{rng.randrange(50)}", "DEPTH_M": rng.randint(100, 4000)}
    return payload


def generate(seed: int, spec: FeedSpec) -> tuple[list[list[str]], list[list["_Doc | None"]]]:
    """The feed for ``seed``: pages of NDJSON lines, and beside each line the
    document it carries (``None`` for a line landing must skip)."""
    rng = random.Random(seed)
    counters = {"AFE": 0, "VENDOR": 0, "TICKET": 0}
    latest: dict[tuple[str, str], _Doc] = {}  # current version of each document
    keys: list[tuple[str, str]] = []  # the keys of ``latest``, for sampling
    emitted: list[_Doc] = []  # every version landed in an earlier page
    pages: list[list[str]] = []
    docs: list[list[_Doc | None]] = []
    types = ("AFE", "VENDOR", "TICKET")
    for n_docs in spec.page_docs:
        in_page: set[tuple[str, str, int]] = set()
        page: list[tuple[str, _Doc | None]] = []
        for _ in range(n_docs):
            r = rng.random()
            doc = None
            if r < RESYNC_RATE and emitted:
                old = emitted[rng.randrange(len(emitted))]
                if (old.type, old.id, old.version) not in in_page:
                    doc = old
            elif r < RESYNC_RATE + BUMP_RATE and keys:
                cur = latest[keys[rng.randrange(len(keys))]]
                doc = _Doc(cur.type, cur.id, cur.version + 1, rng.random() < DELETE_RATE,
                           _payload(rng, cur.type, spec, counters["VENDOR"]))
            if doc is None:
                type_ = rng.choices(types, weights=TYPE_MIX)[0]
                prefix = {"AFE": "afe", "VENDOR": "vnd", "TICKET": "tkt"}[type_]
                doc = _Doc(type_, f"{prefix}-{counters[type_]}", 1, False,
                           _payload(rng, type_, spec, counters["VENDOR"]))
                counters[type_] += 1
            key = (doc.type, doc.id)
            if key not in latest:
                keys.append(key)
                latest[key] = doc
            elif doc.version > latest[key].version:
                latest[key] = doc
            in_page.add((doc.type, doc.id, doc.version))
            page.append((doc.line(), doc))
        for i in range(UNKNOWN_PER_PAGE):
            counters[UNKNOWN_TYPE] = counters.get(UNKNOWN_TYPE, 0) + 1
            doc = _Doc(UNKNOWN_TYPE, f"wid-{counters[UNKNOWN_TYPE]}", 1, False, {"COLOR": "red"})
            page.append((doc.line(), doc))
        for i in range(MALFORMED_PER_PAGE):
            bad = '{"$TYPE":"AFE","DOCUMENT_ID":"afe-bad"' if i % 2 == 0 else \
                '{"$TYPE":"VENDOR","DOCUMENT_ID":"vnd-nov","$AUTHOR_ID":"u-1"}'
            page.append((bad, None))
        rng.shuffle(page)
        emitted.extend(d for _, d in page if d is not None and d.type != UNKNOWN_TYPE)
        pages.append([line for line, _ in page])
        docs.append([d for _, d in page])
    return pages, docs


def doc_rows(doc: "_Doc", chunk_size: int | None) -> int:
    """Rows one document lands as: itself plus one chunk row per slice of
    each list longer than ``chunk_size``."""
    if not chunk_size:
        return 1
    rows = 1
    for value in doc.payload.values():
        if isinstance(value, list) and len(value) > chunk_size:
            rows += math.ceil(len(value) / chunk_size)
    return rows


def expected(docs: list[list["_Doc | None"]], chunk_size: int | None) -> Expected:
    """The outcome of: sync every page into an empty sink, replay the last
    page (which the sink's transaction marker absorbs), prune, then build
    and read the view forest."""
    lines = sum(len(p) for p in docs)
    skipped = sum(1 for p in docs for d in p if d is None)
    page_rows = [sum(doc_rows(d, chunk_size) for d in p if d is not None) for p in docs]
    docs_landed = sum(1 for p in docs for d in p if d is not None)
    # every landed copy of a version but the newest is superseded
    copies: dict[tuple[str, str, int], list[int]] = {}
    for p in docs:
        for d in p:
            if d is not None:
                copies.setdefault((d.type, d.id, d.version), []).append(doc_rows(d, chunk_size))
    rows_removed = sum(sum(rows[:-1]) for rows in copies.values())
    latest: dict[tuple[str, str], _Doc] = {}
    for p in docs:
        for d in p:
            if d is not None and d.type in SCHEMA:
                key = (d.type, d.id)
                if key not in latest or d.version > latest[key].version:
                    latest[key] = d
    view_rows = {v: 0 for v in VIEW_CHECKS}
    view_sums = {v: 0 for v in VIEW_CHECKS}
    for d in latest.values():
        view_rows[d.type] += 1
        view_sums[d.type] += int(d.deleted) if d.type != "VENDOR" else d.payload["RATING"]
        if d.type == "AFE":
            view_rows["AFE_DETAILS"] += 1
            view_sums["AFE_DETAILS"] += d.payload.get("DETAILS", {}).get("DEPTH_M", 0)
            view_rows["AFE_PARTNERS"] += len(d.payload["PARTNERS"])
            view_sums["AFE_PARTNERS"] += sum(p["SHARE"] for p in d.payload["PARTNERS"])
        elif d.type == "TICKET":
            view_rows["TICKET_LINES"] += len(d.payload["LINES"])
            view_sums["TICKET_LINES"] += sum(x["QTY"] for x in d.payload["LINES"])
    return Expected(
        lines=lines,
        skipped=skipped,
        docs=docs_landed,
        chunk_rows=sum(page_rows) - docs_landed,
        page_rows=page_rows,
        rows_removed=rows_removed,
        view_rows=view_rows,
        view_sums=view_sums,
        watermark=page_name(len(docs) - 1),
    )


def write_feed(feed_dir: str, pages: list[list[str]]) -> int:
    """Write the pages as ``FileFeedSource`` serves them, plus
    ``schema.json``. Returns the NDJSON bytes written."""
    os.makedirs(feed_dir, exist_ok=True)
    total = 0
    for i, lines in enumerate(pages):
        body = ("\n".join(lines) + "\n").encode()
        with open(os.path.join(feed_dir, page_name(i)), "wb") as f:
            f.write(body)
        total += len(body)
    with open(os.path.join(feed_dir, "schema.json"), "w") as f:
        json.dump(SCHEMA, f)
    return total
