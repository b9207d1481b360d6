"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (seed, size): the same seed writes
byte-identical inputs. The program under test only ever reads the files
written here; the planted facts each generator returns (expected status per
URL, planted near-duplicate pairs, ...) are what the output checks compare
against. Why each property was chosen is recorded in perfbench/README.md.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

# --- shared input properties (see README.md "Input properties") ------------

HOT_HOST_SHARE = 0.24      # one hot host carries ~24% of frontier rows
ZIPF_S = 1.0               # cold hosts: zipf rank weights 1/r^s
ROBOTS_HOST_SHARE = 0.25   # share of cold hosts that publish robots rules
ROBOTS_BLOCKED_SHARE = 0.05  # share of frontier rows under a disallowed prefix
CRAWL_DELAY_HOST_SHARE = 0.1  # share of robots hosts with a crawl delay
LINK_SHARE = 0.5           # share of fetched pages that emit one link
SEEN_LINK_SHARE = 0.5      # share of those links that point at a seen URL
PRIVATE_LINK_SHARE = 0.2   # share of new-child links under /private/

# pipe_fetch planted status mix (the rest are 200 /item/<i>)
PIPE_NOT_FOUND_SHARE = 0.02
PIPE_FLAKY_SHARE = 0.02
PIPE_DEAD_SHARE = 0.01

# dedup_spans
NEAR_DUP_SHARE = 0.10      # share of base docs that get a planted near-duplicate
BOILERPLATE_CLUSTER = 40   # docs sharing one boilerplate span sequence


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input kind, so adding one generator never
    shifts another's draws."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _ragged_context(rng: np.random.Generator, n: int) -> list[list[str] | None]:
    """0-3 context fields per row; none is null (ganda's nil context)."""
    widths = rng.integers(0, 4, size=n)
    tags = rng.integers(0, 1_000_000, size=(n, 3))
    out: list[list[str] | None] = []
    for i in range(n):
        w = int(widths[i])
        out.append(None if w == 0 else [f"c{j}-{tags[i, j]}" for j in range(w)])
    return out


# ---------------------------------------------------------------------------
# crawl frontier (crawl_bulk)
# ---------------------------------------------------------------------------


def crawl_inputs(seed: int, n_rows: int, n_hosts: int, out_dir: str) -> dict:
    """Seed frontier + robots rules as parquet.

    frontier: seq, url, host, priority (0-9), context (ragged, nullable).
    robots:   host, disallow_prefixes, crawl_delay_ms.
    Host 0 is hot (HOT_HOST_SHARE of rows); the rest follow a zipf law.
    Rows on robots hosts draw a `/private/` path with a probability sized
    so ROBOTS_BLOCKED_SHARE of all rows are blocked."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, "crawl")
    ranks = np.arange(1, n_hosts, dtype=np.float64)
    w = 1.0 / ranks**ZIPF_S
    cold = rng.choice(np.arange(1, n_hosts), size=n_rows, p=w / w.sum())
    hot = rng.random(n_rows) < HOT_HOST_SHARE
    host_id = np.where(hot, 0, cold)

    n_robots = max(1, int(round((n_hosts - 1) * ROBOTS_HOST_SHARE)))
    robots_hosts = np.sort(rng.choice(np.arange(1, n_hosts), size=n_robots, replace=False))
    on_robots = np.isin(host_id, robots_hosts)
    p_block = min(1.0, ROBOTS_BLOCKED_SHARE / max(on_robots.mean(), 1e-9))
    blocked = on_robots & (rng.random(n_rows) < p_block)

    seq = np.arange(n_rows, dtype=np.int64)
    hosts = [f"host-{h}.test" for h in host_id]
    urls = [
        f"http://{hosts[i]}/{'private/' if blocked[i] else ''}p/{seed}-{i}"
        for i in range(n_rows)
    ]
    frontier = pa.table(
        {
            "seq": pa.array(seq, pa.int64()),
            "url": pa.array(urls, pa.string()),
            "host": pa.array(hosts, pa.string()),
            "priority": pa.array(rng.integers(0, 10, size=n_rows), pa.int32()),
            "context": pa.array(_ragged_context(rng, n_rows), pa.list_(pa.string())),
        }
    )
    delayed = rng.random(n_robots) < CRAWL_DELAY_HOST_SHARE
    delays = np.where(delayed, rng.choice([50, 100, 200], size=n_robots), 0)
    robots = pa.table(
        {
            "host": pa.array([f"host-{h}.test" for h in robots_hosts], pa.string()),
            "disallow_prefixes": pa.array(
                [["/private/"]] * n_robots, pa.list_(pa.string())
            ),
            "crawl_delay_ms": pa.array(delays, pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "frontier": os.path.join(out_dir, "frontier.parquet"),
        "robots": os.path.join(out_dir, "robots.parquet"),
    }
    pq.write_table(frontier, paths["frontier"])
    pq.write_table(robots, paths["robots"])
    return {
        "paths": paths,
        "rows": n_rows,
        "hot_host_share": float(hot.mean()),
        "robots_blocked_share": float(blocked.mean()),
    }


# ---------------------------------------------------------------------------
# pipe_fetch: URL + TSV-context lines against the local responder
# ---------------------------------------------------------------------------


def pipe_lines(seed: int, n_urls: int, base: str, tag: str) -> tuple[list[str], list[dict]]:
    """(lines, planted): lines are `url[\\tctx...]`; planted[i] holds the
    outcome the responder is scripted to give line i. `tag` keeps the URLs
    of each pass in one run distinct, so every /flaky path fails once."""
    rng = _rng(seed, f"pipe:{tag}")
    kind_draw = rng.random(n_urls)
    ctx = _ragged_context(rng, n_urls)
    quoted = rng.random(n_urls) < 0.05  # RFC-4180 quoted field with a tab
    lines, planted = [], []
    cut1 = PIPE_NOT_FOUND_SHARE
    cut2 = cut1 + PIPE_FLAKY_SHARE
    cut3 = cut2 + PIPE_DEAD_SHARE
    for i in range(n_urls):
        d = kind_draw[i]
        key = f"{tag}-{i}"
        if d < cut1:
            path, status, hits, ok = f"status/404/{key}", 404, 1, True
        elif d < cut2:
            path, status, hits, ok = f"flaky/1/{key}", 200, 2, True
        elif d < cut3:
            path, status, hits, ok = f"status/500/{key}", 500, 2, False
        else:
            path, status, hits, ok = f"item/{key}", 200, 1, True
        url = f"{base}/{path}"
        fields = list(ctx[i] or [])
        if quoted[i] and fields:
            fields[0] = fields[0] + "\tq"
        cells = [url] + [
            '"' + f.replace('"', '""') + '"' if "\t" in f else f for f in fields
        ]
        lines.append("\t".join(cells))
        planted.append(
            {"url": url, "path": "/" + path, "status": status, "hits": hits,
             "ok": ok, "context": fields or None}
        )
    return lines, planted


def item_body(path: str) -> bytes:
    """Deterministic 200 body the responder serves for `path`."""
    digest = hashlib.sha256(path.encode()).hexdigest()
    return json.dumps(
        {"uri": path, "digest": digest, "filler": digest * 4},
        separators=(",", ":"),
    ).encode()


# ---------------------------------------------------------------------------
# dedup_spans: interleaved span documents with planted near-duplicates
# ---------------------------------------------------------------------------

_WORDS = [f"w{i}" for i in range(5000)]


def span_canon(span: dict) -> str:
    """The canonical span string ganda_spark.sources.spans.span_canon
    builds (kind, text, media_ref, offset joined by unit separators)."""
    return "\x1f".join(
        [span["kind"], span["text"], span["media_ref"] or "", str(span["offset"])]
    )


def span_docs(seed: int, n_docs: int, out_dir: str) -> dict:
    """doc_id, spans<kind,text,media_ref,offset> parquet.

    Each base doc has 10-16 spans (text/link/image/video). NEAR_DUP_SHARE
    of base docs get a near-duplicate: the same spans with one span dropped
    or one span's text edited (Jaccard over span shingles >= 0.8). One
    boilerplate cluster of BOILERPLATE_CLUSTER docs shares an identical
    span sequence (the dense-bucket case for the density router)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, "spans")
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_base = n_docs - n_near - BOILERPLATE_CLUSTER
    kinds = np.array(["text", "link", "image", "video"])
    docs: list[tuple[str, list[dict]]] = []
    for d in range(n_base):
        n_spans = int(rng.integers(10, 17))
        ks = kinds[rng.integers(0, 4, size=n_spans)]
        spans = []
        for o in range(n_spans):
            k = str(ks[o])
            words = rng.integers(0, len(_WORDS), size=int(rng.integers(4, 12)))
            text = " ".join(_WORDS[w] for w in words)
            media = (
                f"http://m-{int(rng.integers(0, 50))}.test/{seed}/{d}/{o}"
                if k in ("image", "video") else None
            )
            spans.append({"kind": k, "text": text, "media_ref": media, "offset": o})
        docs.append((f"d{d:07d}", spans))
    planted = []
    near_src = rng.choice(n_base, size=n_near, replace=False)
    for j, src in enumerate(near_src):
        doc_id, spans = docs[int(src)]
        spans = [dict(s) for s in spans]
        if rng.random() < 0.5:
            spans.pop(int(rng.integers(0, len(spans))))
        else:
            s = spans[int(rng.integers(0, len(spans)))]
            s["text"] = s["text"] + " edited"
        dup_id = f"n{j:07d}"
        docs.append((dup_id, spans))
        planted.append(sorted([doc_id, dup_id]))
    boiler = [
        {"kind": "text", "text": f"boilerplate footer {o}", "media_ref": None, "offset": o}
        for o in range(6)
    ]
    for b in range(BOILERPLATE_CLUSTER):
        docs.append((f"b{b:07d}", [dict(s) for s in boiler]))
    order = rng.permutation(len(docs))
    docs = [docs[i] for i in order]
    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    table = pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.string()),
            "spans": pa.array([s for _, s in docs], pa.list_(span_t)),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "spans.parquet")
    pq.write_table(table, path, row_group_size=max(1, len(docs) // 8))
    return {
        "path": path,
        "docs": len(docs),
        "shingles": {d: {span_canon(s) for s in sp} for d, sp in docs},
        "planted_pairs": planted,
        "boilerplate_ids": [f"b{b:07d}" for b in range(BOILERPLATE_CLUSTER)],
    }
