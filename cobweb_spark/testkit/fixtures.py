"""Deterministic test corpora (FIXTURES.md tiers T1-T4).

T1 ``sample_site``    — spans replica of the reference's golden site
                        (/root/reference/spec/samples/sample_site, served by
                        Thin in its specs at http://localhost:3532/). The
                        HTML fixture *files* are parsed here at corpus-build
                        time — the engine itself never parses HTML; the
                        spans table is its input (BASELINE.json input_hint).
                        Goldens: 77 objects, mime_counts text/html=8,
                        text/css=18, image/jpeg=25
                        (spec/cobweb/crawl_job_spec.rb:55-56,
                        spec/cobweb/cobweb_crawler_spec.rb:36-38).
T2 ``link_zoo``       — spec/samples/sample_html_links.html; goldens 11
                        links / 1 image / 2 related / 1 script / 3 styles /
                        13 all_links (content_link_parser_spec.rb:34-121).
T3 ``redirect_chain`` — 2-hop 301 chain (spec/http_stubs.rb:75-93,
                        cobweb_spec.rb:138-170).
T4 ``scale``          — seeded random web graph with one zipf mega-host,
                        generated vectorized (numpy) for bench sizes.
"""

from __future__ import annotations

import os
import re
import zlib
from urllib.parse import urlsplit

from ..oracle import OracleDoc

REFERENCE_SAMPLES = "/root/reference/spec/samples"
SAMPLE_SITE_BASE = "http://localhost:3532/"

# Rack::Mime-style extension → content-type map (what Rack::Directory
# serves in the reference's spec server, spec/samples/sample_server.rb).
_MIME_BY_EXT = {
    ".html": "text/html",
    ".htm": "text/html",
    ".css": "text/css",
    ".js": "application/javascript",
    ".jpg": "image/jpeg",
    ".jpeg": "image/jpeg",
    ".png": "image/png",
    ".gif": "image/gif",
    ".svg": "image/svg+xml",
    ".txt": "text/plain",
    ".eot": "application/octet-stream",
    ".ttf": "application/octet-stream",
    ".woff": "application/octet-stream",
    ".ico": "image/vnd.microsoft.icon",
    ".xml": "application/xml",
}


def mime_for_path(path: str) -> str:
    _, ext = os.path.splitext(path.lower())
    return _MIME_BY_EXT.get(ext, "application/octet-stream")


def synthetic_response_time(key: str) -> float:
    """Deterministic stand-in for wall-clock response time."""
    return 0.01 + (zlib.crc32(key.encode()) % 1000) / 5000.0


# ---------------------------------------------------------------------------
# HTML → spans (corpus synthesis only; mirrors what Nokogiri effectively
# extracts from the fixture files via the selectors in
# lib/content_link_parser.rb:19-26)
# ---------------------------------------------------------------------------
_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*=\s*("([^"]*)"|'([^']*)'|[^\s>]+)"""
)
_TAG_RE = re.compile(r"<([a-zA-Z]+)\b([^>]*?)/?>")
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_STYLE_URL_RE = re.compile(r"""url\((['"]?)(.*?)\1\)""")


def _parse_attrs(s: str) -> dict:
    out = {}
    for m in _ATTR_RE.finditer(s):
        val = m.group(3) if m.group(3) is not None else m.group(4)
        if val is None:
            val = m.group(2)
        out[m.group(1).lower()] = val
    return out


def parse_html_spans(html: str) -> list[tuple]:
    """Convert fixture HTML into the interleaved span sequence.

    Comments are stripped (Nokogiri does not treat commented-out markup as
    elements — e.g. the IE-conditional excanvas <script> in the sample site
    is NOT extracted), except inside <style> blocks whose raw content the
    reference's Proc scans for url(...) (lib/content_link_parser.rb:23-26).
    """
    # carve out <style type=text/css*> blocks first, keep their content
    styles: list[str] = []

    def _stash(m: re.Match) -> str:
        attrs = _parse_attrs(m.group(1))
        if attrs.get("type", "").lower().startswith("text/css"):
            styles.append(m.group(2))
            return f"\x00STYLE{len(styles) - 1}\x00"
        return ""

    html_ns = re.sub(
        r"<style\b([^>]*)>(.*?)</style\s*>", _stash, html, flags=re.I | re.S
    )
    html_nc = _COMMENT_RE.sub("", html_ns)

    spans: list[tuple] = []
    off = 0

    def add(kind: str, text: str | None, media: str | None = None):
        nonlocal off
        spans.append((kind, text, media, off))
        off += 1

    # interleave: walk stylemarkers and tags in document order
    token_re = re.compile(r"\x00STYLE(\d+)\x00|<([a-zA-Z]+)\b([^>]*?)/?>")
    pending_title_at: int | None = None
    for m in token_re.finditer(html_nc):
        if m.group(1) is not None:
            for um in _STYLE_URL_RE.finditer(styles[int(m.group(1))]):
                add("style_url", um.group(2))
            continue
        tag = m.group(2).lower()
        attrs = _parse_attrs(m.group(3))
        if tag == "a" and "href" in attrs:
            add("a", attrs["href"])
        elif tag == "frame" and "src" in attrs:
            add("frame", attrs["src"])
        elif tag == "meta":
            if attrs.get("http-equiv", "").lower() == "refresh" and "content" in attrs:
                add("meta_refresh", attrs["content"])
            elif "name" in attrs:
                add("meta_name", f"{attrs['name']}={attrs.get('content', '')}")
        elif tag == "link" and "href" in attrs:
            if "rel" not in attrs:
                add("link", attrs["href"])
            elif attrs["rel"].lower() == "stylesheet":
                add("link_stylesheet", attrs["href"])
            else:
                add("link_rel", attrs["href"])
        elif tag == "area" and "href" in attrs:
            add("area", attrs["href"])
        elif tag == "img" and "src" in attrs:
            add("img", attrs["src"])
        elif tag == "script" and "src" in attrs:
            add("script", attrs["src"])
        elif tag == "base" and "href" in attrs:
            add("base", attrs["href"])
        elif tag == "title":
            end = html_nc.find("</title", m.end())
            if end != -1:
                add("title", html_nc[m.end() : end].strip())
    return spans


# ---------------------------------------------------------------------------
# T1: sample_site
# ---------------------------------------------------------------------------
def build_sample_site_corpus(
    samples_dir: str = REFERENCE_SAMPLES, base: str = SAMPLE_SITE_BASE
) -> dict[str, OracleDoc]:
    """Spans corpus replicating SampleServer + Rack::Directory over
    spec/samples/sample_site: '/' serves index.html; every file is served
    under its relative path; missing paths 404 (handled at fetch time).
    Raises FileNotFoundError when the sample site is absent."""
    root = os.path.join(samples_dir, "sample_site")
    if not os.path.isdir(root):
        raise FileNotFoundError(f"sample site directory not found: {root}")
    corpus: dict[str, OracleDoc] = {}
    for dirpath, _dirs, files in os.walk(root):
        for fname in sorted(files):
            fpath = os.path.join(dirpath, fname)
            rel = os.path.relpath(fpath, root).replace(os.sep, "/")
            url = base + rel
            mime = mime_for_path(rel)
            size = os.path.getsize(fpath)
            if mime == "text/html":
                with open(fpath, encoding="utf-8", errors="replace") as f:
                    spans = parse_html_spans(f.read())
            elif mime.startswith("text/") or mime in (
                "application/javascript",
                "application/xml",
            ):
                spans = [("text", rel, None, 0)]
            else:
                spans = [("media", None, rel, 0)]
            doc = OracleDoc(
                doc_id=url,
                spans=spans,
                status_code=200,
                mime_type=mime,
                character_set="utf-8" if mime.startswith("text/") else None,
                length=size,
                response_time=synthetic_response_time(url),
            )
            corpus[url] = doc
            if rel == "index.html":
                root_doc = OracleDoc(
                    doc_id=base,
                    spans=spans,
                    status_code=200,
                    mime_type="text/html",
                    character_set="utf-8",
                    length=size,
                    response_time=synthetic_response_time(base),
                )
                corpus[base] = root_doc
    return corpus


def sample_site_robots_rules(
    samples_dir: str = REFERENCE_SAMPLES, host: str = "localhost:3532"
) -> list[tuple]:
    path = os.path.join(samples_dir, "sample_site", "robots.txt")
    with open(path) as f:
        return parse_robots_txt(host, f.read())


def parse_robots_txt(host: str, data: str) -> list[tuple]:
    """robots.txt → (host, user_agent, rule, pattern, rank) rows.

    Mirrors Robots#parse_data (lib/robots.rb:49-71): strip, drop blanks and
    comments, group by user-agent, skip empty-valued directives.
    """
    rows: list[tuple] = []
    current_ua = None
    rank = 0
    for line in data.split("\n"):
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        if line[:11].lower() == "user-agent:":
            current_ua = line.split(":", 1)[1].strip().lower()
            continue
        if current_ua is None or ":" not in line:
            continue
        key, val = line.split(":", 1)
        key, val = key.strip().lower(), val.strip()
        if val == "" or key not in ("allow", "disallow"):
            continue
        rows.append((host, current_ua, key, val, rank))
        rank += 1
    return rows


# ---------------------------------------------------------------------------
# T2: link_zoo
# ---------------------------------------------------------------------------
LINK_ZOO_URL = "http://sample-links.com/"


def build_link_zoo_corpus(
    samples_dir: str = REFERENCE_SAMPLES,
) -> dict[str, OracleDoc]:
    path = os.path.join(samples_dir, "sample_html_links.html")
    with open(path, encoding="utf-8", errors="replace") as f:
        spans = parse_html_spans(f.read())
    doc = OracleDoc(
        doc_id=LINK_ZOO_URL,
        spans=spans,
        status_code=200,
        mime_type="text/html",
        character_set="iso-8859-1",
        length=os.path.getsize(path),
        response_time=synthetic_response_time(LINK_ZOO_URL),
    )
    return {LINK_ZOO_URL: doc}


# ---------------------------------------------------------------------------
# T3: redirect_chain (spec/http_stubs.rb:75-93)
# ---------------------------------------------------------------------------
def build_redirect_corpus() -> dict[str, OracleDoc]:
    docs = [
        OracleDoc(
            doc_id="http://redirect-me.com/redirect.html",
            status_code=301,
            mime_type="text/html",
            length=2048,
            location="http://redirected-to.com/redirect2.html",
            response_time=0.05,
        ),
        OracleDoc(
            doc_id="http://redirected-to.com/redirect2.html",
            status_code=301,
            mime_type="text/html",
            length=2048,
            location="http://redirected-to.com/redirected.html",
            response_time=0.05,
        ),
        OracleDoc(
            doc_id="http://redirected-to.com/redirected.html",
            spans=[("text", "asdf", None, 0)],
            status_code=200,
            mime_type="text/html",
            length=1024,
            response_time=0.05,
        ),
    ]
    return {d.doc_id: d for d in docs}


def build_redirect_loop_corpus(hops: int) -> dict[str, OracleDoc]:
    """A pure 301 cycle of ``hops`` documents (redirect-limit tests)."""
    docs = {}
    for i in range(hops):
        url = f"http://loop.example.com/hop{i}.html"
        nxt = f"http://loop.example.com/hop{(i + 1) % hops}.html"
        docs[url] = OracleDoc(
            doc_id=url,
            status_code=301,
            mime_type="text/html",
            length=0,
            location=nxt,
            response_time=0.01,
        )
    return docs


# ---------------------------------------------------------------------------
# T5: seed_redirect — the seed 301s to ANOTHER host
# (first_page_redirect_internal: lib/crawl.rb:348-356, default-on
# lib/cobweb.rb:54 — without the widening the crawl dead-ends at the seed)
# ---------------------------------------------------------------------------
SEED_REDIRECT_BASE = "http://start.example.com/"
SEED_REDIRECT_DEST = "http://www.start-example.org"


def build_seed_redirect_corpus() -> dict[str, OracleDoc]:
    base = SEED_REDIRECT_BASE
    dest = SEED_REDIRECT_DEST

    def page(path: str, spans: list[tuple], mime="text/html", **kw):
        url = dest + path
        return OracleDoc(
            doc_id=url,
            spans=spans,
            status_code=kw.pop("status_code", 200),
            mime_type=mime,
            character_set="utf-8" if mime.startswith("text/") else None,
            length=kw.pop("length", 1000 + len(path) * 37),
            response_time=synthetic_response_time(url),
            **kw,
        )

    docs = {
        base: OracleDoc(
            doc_id=base,
            status_code=301,
            mime_type="text/html",
            length=0,
            location=dest + "/",
            response_time=0.02,
        ),
        dest
        + "/": page(
            "/",
            [
                ("title", "dest index", None, 0),
                ("a", "/a.html", None, 1),
                ("a", "/b.html", None, 2),
                ("link_stylesheet", "/site.css", None, 3),
            ],
        ),
        dest
        + "/a.html": page(
            "/a.html",
            [
                ("a", "/b.html", None, 0),
                ("a", "/c.html", None, 1),
                # custom span kind: ignored by the default tag table,
                # extracted only via additional_tags
                ("video_src", "/clip.mp4", None, 2),
            ],
        ),
        dest
        + "/b.html": page(
            "/b.html",
            [
                ("a", "/c.html", None, 0),
                # direct link to the redirect FINAL url: must not re-fetch
                # (mark_redirect_final_crawled + prefilter coverage)
                ("a", dest + "/", None, 1),
                ("img", "/m1.jpg", None, 2),
            ],
        ),
        dest
        + "/c.html": page(
            "/c.html",
            [
                ("a", "http://elsewhere.example.net/x.html", None, 0),
                ("a", base, None, 1),  # back to the 301 seed (seen)
            ],
        ),
        dest + "/site.css": page(
            "/site.css", [("text", "site.css", None, 0)], mime="text/css"
        ),
        dest + "/m1.jpg": page(
            "/m1.jpg", [("media", None, "m1.jpg", 0)], mime="image/jpeg"
        ),
        dest + "/clip.mp4": page(
            "/clip.mp4", [("media", None, "clip.mp4", 0)], mime="video/mp4"
        ),
    }
    return docs


# ---------------------------------------------------------------------------
# T4: scale — seeded random web graph, vectorized generation
# ---------------------------------------------------------------------------
def build_scale_corpus_arrays(
    n_hosts: int = 50,
    pages_per_host: int = 200,
    mega_host_factor: int = 20,
    out_degree: int = 12,
    media_ratio: float = 0.3,
    cross_host_prob: float = 0.08,
    seed: int = 42,
    n_seeds: int | None = None,
):
    """Generate the scale corpus as columnar arrays (pyarrow Table).

    Host 0 is the mega-host (pages_per_host * mega_host_factor pages) to
    exercise skew handling. Out-links are drawn deterministically from the
    seeded RNG; ~media_ratio of spans are img links to media docs.
    Returns (pyarrow.Table matching DOCUMENTS_SCHEMA, seed_urls).
    """
    import numpy as np
    import pyarrow as pa

    def _arr(x, type=None):
        a = pa.array(x, type=type)
        if isinstance(a, pa.ChunkedArray):
            a = a.combine_chunks()
        return a

    rng = np.random.default_rng(seed)
    host_sizes = np.full(n_hosts, pages_per_host, dtype=np.int64)
    host_sizes[0] *= mega_host_factor
    hosts = [f"host{h}.example.com" for h in range(n_hosts)]

    doc_ids: list[str] = []
    for h in range(n_hosts):
        doc_ids.extend(
            f"http://{hosts[h]}/p{i}.html" for i in range(host_sizes[h])
        )
    n_pages = len(doc_ids)
    page_host = np.concatenate(
        [np.full(host_sizes[h], h, dtype=np.int64) for h in range(n_hosts)]
    )
    host_start = np.concatenate(([0], np.cumsum(host_sizes)))[:-1]

    # per-page out-links: mostly same-host, some cross-host
    deg = rng.poisson(out_degree, n_pages).clip(1, out_degree * 3)
    total = int(deg.sum())
    src_idx = np.repeat(np.arange(n_pages), deg)
    same = rng.random(total) >= cross_host_prob
    tgt_host = np.where(
        same, page_host[src_idx], rng.integers(0, n_hosts, total)
    )
    tgt_off = (rng.random(total) * host_sizes[tgt_host]).astype(np.int64)
    tgt_idx = host_start[tgt_host] + tgt_off

    n_media = int(total * media_ratio)
    is_media = np.zeros(total, dtype=bool)
    if n_media:
        is_media[rng.choice(total, n_media, replace=False)] = True

    # assemble spans per page
    doc_ids_arr = np.array(doc_ids)
    link_urls = doc_ids_arr[tgt_idx]
    media_urls = np.char.add(
        np.char.add("http://", np.array(hosts)[tgt_host]),
        np.char.add("/m", np.char.add(tgt_off.astype(str), ".jpg")),
    )
    span_text = np.where(is_media, media_urls, link_urls)
    span_kind = np.where(is_media, "img", "a")

    order = np.argsort(src_idx, kind="stable")
    src_sorted = src_idx[order]
    kind_sorted = span_kind[order]
    text_sorted = span_text[order]
    offsets_within = np.arange(total) - np.repeat(
        np.concatenate(([0], np.cumsum(deg)))[:-1], deg
    )

    # page rows
    kinds_flat = _arr(kind_sorted)
    texts_flat = _arr(text_sorted)
    media_flat = _arr([None] * total, type=pa.string())
    offs_flat = _arr(offsets_within, type=pa.int32())
    span_struct = pa.StructArray.from_arrays(
        [kinds_flat, texts_flat, media_flat, offs_flat],
        ["kind", "text", "media_ref", "offset"],
    )
    list_offsets = pa.array(
        np.concatenate(([0], np.cumsum(deg))), type=pa.int32()
    )
    spans_col = pa.ListArray.from_arrays(list_offsets, span_struct)

    rt = 0.01 + (np.arange(n_pages) * 2654435761 % 1000) / 5000.0
    pages_tbl = pa.table(
        {
            "doc_id": pa.array(doc_ids),
            "spans": spans_col,
            "status_code": pa.array(np.full(n_pages, 200), type=pa.int32()),
            "mime_type": pa.array(["text/html"] * n_pages),
            "character_set": pa.array(["utf-8"] * n_pages),
            "length": pa.array(
                1000 + (np.arange(n_pages) * 97 % 9000), type=pa.int64()
            ),
            "response_time": pa.array(rt, type=pa.float64()),
            "location": pa.array([None] * n_pages, type=pa.string()),
        }
    )

    # media docs (unique)
    media_unique = np.unique(media_urls[is_media]) if n_media else np.array([])
    n_m = len(media_unique)
    if n_m:
        m_spans = pa.ListArray.from_arrays(
            pa.array(np.arange(n_m + 1), type=pa.int32()),
            pa.StructArray.from_arrays(
                [
                    pa.array(["media"] * n_m),
                    pa.array([None] * n_m, type=pa.string()),
                    pa.array([u.split("/")[-1] for u in media_unique]),
                    pa.array(np.zeros(n_m), type=pa.int32()),
                ],
                ["kind", "text", "media_ref", "offset"],
            ),
        )
        media_tbl = pa.table(
            {
                "doc_id": pa.array(media_unique),
                "spans": m_spans,
                "status_code": pa.array(np.full(n_m, 200), type=pa.int32()),
                "mime_type": pa.array(["image/jpeg"] * n_m),
                "character_set": pa.array([None] * n_m, type=pa.string()),
                "length": pa.array(
                    5000 + (np.arange(n_m) * 131 % 50000), type=pa.int64()
                ),
                "response_time": pa.array(
                    0.01 + (np.arange(n_m) * 7919 % 1000) / 5000.0,
                    type=pa.float64(),
                ),
                "location": pa.array([None] * n_m, type=pa.string()),
            }
        )
        tbl = pa.concat_tables([pages_tbl, media_tbl])
    else:
        tbl = pages_tbl

    # seed list: round-robin page ranks across hosts. A production
    # 10^10-URL crawl starts from a massive seed list, not 8 URLs — the
    # BFS ramp-up waves are a workload parameter, not engine behavior.
    if n_seeds is None:
        n_seeds = min(n_hosts, 8)
    # accumulate until n_seeds (skip-and-continue over hosts that ran
    # out of pages): ADVICE regression — the old guard silently dropped
    # entries, under-seeding benchmarks on corpora with small hosts
    n_seeds = min(n_seeds, int(host_sizes.sum()))
    seeds: list[str] = []
    i = 0
    while len(seeds) < n_seeds:
        for h in range(n_hosts):
            if len(seeds) >= n_seeds:
                break
            if i < int(host_sizes[h]):
                seeds.append(f"http://{hosts[h]}/p{i}.html")
        i += 1
    return tbl, seeds


def scale_corpus_as_oracle_dict(**kw):
    """The T4 scale corpus as an OracleDoc dict: lets the pure-Python
    oracle crawl the same mid-size synthetic web graph the benchmarks use
    (politeness-at-bench-shape parity, tests/test_round4.py). Returns
    (corpus, seed_urls)."""
    from ..oracle import OracleDoc

    tbl, seeds = build_scale_corpus_arrays(**kw)
    corpus = {}
    for row in tbl.to_pylist():
        corpus[row["doc_id"]] = OracleDoc(
            doc_id=row["doc_id"],
            spans=[
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in row["spans"]
            ],
            status_code=row["status_code"],
            mime_type=row["mime_type"],
            character_set=row["character_set"],
            length=row["length"],
            response_time=row["response_time"],
            location=row["location"],
        )
    return corpus, seeds


def write_scale_corpus(path: str, **kw) -> list[str]:
    import pyarrow.parquet as pq

    tbl, seeds = build_scale_corpus_arrays(**kw)
    # small row groups keep the file splittable: Spark cannot parallelize
    # inside one row group, and the span column is Python-stage input
    pq.write_table(tbl, path, row_group_size=20_000)
    return seeds


# ---------------------------------------------------------------------------
# media store: real PNG/WAV payload bytes with stored ground-truth metadata
# ---------------------------------------------------------------------------
def build_media_store_rows(refs: list[str]) -> list[dict]:
    """One row per unique media_ref with a REAL encoded payload (cycling
    PNG / WAV / JPEG / Y4M video by ref index) and the generator's
    metadata stored beside it — the DuckDB oracle reads the metadata,
    the Spark decoder parses the bytes; agreement proves the decode.
    For video, n_samples carries the frame count and sample_rate the
    fps numerator (F{fps}:1)."""
    from ..functions.media_codecs import (
        encode_jpeg,
        encode_png,
        encode_wav,
        encode_y4m,
    )

    rows = []
    for i, ref in enumerate(sorted(set(refs))):
        h = zlib.crc32(ref.encode())
        if i % 4 == 0:
            w = 1 + h % 64
            ht = 1 + (h >> 8) % 64
            payload = encode_png(w, ht, seed=h)
            rows.append(
                dict(
                    media_ref=ref,
                    payload=payload,
                    media_kind="image/png",
                    n_bytes=len(payload),
                    width=w,
                    height=ht,
                    sample_rate=None,
                    n_samples=None,
                )
            )
        elif i % 4 == 2:
            w = 1 + h % 360
            ht = 1 + (h >> 10) % 360
            payload = encode_jpeg(w, ht, seed=h)
            rows.append(
                dict(
                    media_ref=ref,
                    payload=payload,
                    media_kind="image/jpeg",
                    n_bytes=len(payload),
                    width=w,
                    height=ht,
                    sample_rate=None,
                    n_samples=None,
                )
            )
        elif i % 4 == 3:
            w = 8 + h % 48
            ht = 8 + (h >> 8) % 32
            nf = 2 + h % 30
            payload = encode_y4m(w, ht, nf, seed=h)
            rows.append(
                dict(
                    media_ref=ref,
                    payload=payload,
                    media_kind="video/y4m",
                    n_bytes=len(payload),
                    width=w,
                    height=ht,
                    sample_rate=25,
                    n_samples=nf,
                )
            )
        else:
            sr = 8000 + (h % 8) * 1000
            ns = 16 + h % 240
            payload = encode_wav(ns, sr, seed=h)
            rows.append(
                dict(
                    media_ref=ref,
                    payload=payload,
                    media_kind="audio/wav",
                    n_bytes=len(payload),
                    width=None,
                    height=None,
                    sample_rate=sr,
                    n_samples=ns,
                )
            )
    return rows


# ---------------------------------------------------------------------------
# corpus dict <-> rows (for Spark createDataFrame / parquet)
# ---------------------------------------------------------------------------
def corpus_to_rows(corpus: dict[str, OracleDoc]) -> list[dict]:
    rows = []
    for doc in corpus.values():
        rows.append(
            {
                "doc_id": doc.doc_id,
                "spans": [
                    {
                        "kind": k,
                        "text": t,
                        "media_ref": m,
                        "offset": o,
                    }
                    for (k, t, m, o) in doc.spans
                ],
                "status_code": doc.status_code,
                "mime_type": doc.mime_type,
                "character_set": doc.character_set,
                "length": doc.length,
                "response_time": doc.response_time,
                "location": doc.location,
            }
        )
    return rows
