"""Deterministic synthesis of the crawl universe (FIXTURES.md §1-§4).

Generates, from ``seed=42`` and a size knob, the ``pages`` table
(Common-Crawl-style: url, warc_ts, html, text, lang), the ``robots``
table, the seed list, the crawl config, and **golden links by
construction**: the generator tracks exactly which text chunks and
hrefs it writes into each page, so `pages.text` and `golden_links` are
computed independently of the extraction code they later verify
(reference fixture spirit: canned pages served to a fake client,
atra/src/crawl/crawler.rs:842-948).

Skew fixture: `mega.example` holds ~40% of all pages so that host-hash
partitioning + hot-host handling is exercised (north rule).
"""

from __future__ import annotations

import html as _html
import os
import random
import zlib
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from ..config import CrawlConfig
from ..functions.langdata import FILLER, LANGS, MARKERS
from ..urlkit import SEED_ONLY, Budget, canonicalize, host_of

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


class _HtmlBuilder:
    """Accumulates HTML markup and, in parallel, the golden DOM text.

    Golden-text spec = concatenation of all character-data in document
    order with entities decoded (matches the extractor's contract in
    functions/extract.py; independence comes from tracking emission,
    not parsing).
    """

    def __init__(self) -> None:
        self.parts: list[str] = []
        self.text_parts: list[str] = []

    def raw(self, markup: str) -> None:
        self.parts.append(markup)

    def text(self, s: str) -> None:
        self.parts.append(_html.escape(s, quote=False))
        self.text_parts.append(s)

    def gap(self, s: str = "\n") -> None:
        """Inter-tag whitespace — still a text node."""
        self.parts.append(s)
        self.text_parts.append(s)

    def html(self) -> str:
        return "".join(self.parts)

    def golden_text(self) -> str:
        return "".join(self.text_parts)


@dataclass
class FixtureSet:
    pages: list[tuple]  # (url, warc_ts, html_bytes, text, lang)
    robots: list[tuple]  # (host, robots_txt_bytes|None, status, retrieved_at)
    seeds: list[str]
    config: CrawlConfig
    golden_links: dict[str, list[tuple[str, str, str]]] = field(default_factory=dict)
    hosts: list[str] = field(default_factory=list)
    # src url -> [(dst, anchor_dom_text)] for surviving <a> links (html
    # pages only; office/PDF payload pages carry no anchor text)
    golden_anchors: dict[str, list[tuple[str, str]]] = field(default_factory=dict)


def _lang_sentence(rng: random.Random, lang: str, n_words: int) -> str:
    words = []
    markers, filler = MARKERS[lang], FILLER[lang]
    for _ in range(n_words):
        pool = markers if rng.random() < 0.45 else filler
        words.append(rng.choice(pool))
    return " ".join(words)


def _office_page(
    kind: str, s1: str, s2: str, targets: list[str]
) -> tuple[bytes, str]:
    """Build a real OOXML/ODF/PDF payload carrying two paragraphs and
    ``targets`` as document links, plus the golden extracted text the
    engine's extractor contract produces for it (paragraph boundaries
    -> newlines; ODF anchor text participates in the paragraph text)."""
    import io
    import zipfile
    import zlib as _z

    if kind == "docx":
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("[Content_Types].xml", "<Types/>")
            z.writestr(
                "word/document.xml",
                "<w:document><w:body>"
                f"<w:p><w:r><w:t>{s1}</w:t></w:r></w:p>"
                f"<w:p><w:r><w:t>{s2}</w:t></w:r></w:p>"
                "</w:body></w:document>",
            )
            rels = "".join(
                f'<Relationship Id="rId{i}" Target="{t}" TargetMode="External"/>'
                for i, t in enumerate(targets)
            )
            z.writestr(
                "word/_rels/document.xml.rels",
                f"<Relationships>{rels}</Relationships>",
            )
        return buf.getvalue(), f"{s1}\n{s2}"
    if kind == "odt":
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr(zipfile.ZipInfo("mimetype"), "application/vnd.oasis.opendocument.text")
            link_paras = "".join(
                f'<text:p><text:a xlink:href="{t}">ref</text:a></text:p>' for t in targets
            )
            z.writestr(
                "content.xml",
                "<office:document-content><office:body>"
                f"<text:p>{s1}</text:p>{link_paras}<text:p>{s2}</text:p>"
                "</office:body></office:document-content>",
            )
        golden = "\n".join([s1, *(["ref"] * len(targets)), s2])
        return buf.getvalue(), golden
    # pdf: one FlateDecode content stream + one /URI annotation per link
    content = f"BT ({s1}) Tj ({s2}) Tj ET".encode("utf-8")
    comp = _z.compress(content)
    annots = b"".join(
        b"<< /Type /Annot /Subtype /Link /A << /S /URI /URI ("
        + t.encode("utf-8")
        + b") >> >>\n"
        for t in targets
    )
    payload = (
        b"%PDF-1.4\n"
        + annots
        + b"<< /Filter /FlateDecode /Length "
        + str(len(comp)).encode()
        + b" >>\nstream\n"
        + comp
        + b"\nendstream\n%%EOF"
    )
    return payload, f"{s1} {s2}"


def generate_fixtures(
    n_pages: int = 2000,
    n_hosts: int = 24,
    seed: int = 42,
    mega_share: float = 0.4,
    body_paragraphs: int = 1,
    links_range: tuple[int, int] = (5, 30),
    office_share: float = 0.0,
) -> FixtureSet:
    """``body_paragraphs`` scales page size: 1 ≈ 1.5 KB html (fast unit
    tests); 8-12 ≈ 6-10 KB, approximating Common-Crawl text-heavy pages
    so that extraction rather than orchestration dominates benchmarks.

    ``office_share`` > 0 swaps that fraction of (latin-script host)
    pages for real OOXML/ODF/PDF payloads with constructed golden text
    + links — end-to-end coverage of the non-HTML extractors through
    the full crawl loop. Default 0.0 draws nothing from the rng, so the
    benchmark corpus and every existing golden are bit-identical."""
    rng = random.Random(seed)
    hosts = [f"host{i:04d}.example" for i in range(n_hosts)]
    mega = "mega.example"
    blocked = "blocked.example"
    all_hosts = hosts + [mega, blocked]

    # page allocation: mega takes mega_share; blocked gets a handful
    n_blocked = max(4, n_pages // 100)
    n_mega = int(n_pages * mega_share)
    n_normal = n_pages - n_mega - n_blocked
    per_host = {h: 0 for h in all_hosts}
    per_host[mega] = n_mega
    per_host[blocked] = n_blocked
    base, rem = divmod(n_normal, n_hosts)
    for i, h in enumerate(hosts):
        per_host[h] = base + (1 if i < rem else 0)

    # robots assignment (FIXTURES.md §2)
    robots_rows: list[tuple] = []
    host_delay: dict[str, int | None] = {}
    host_disallow: dict[str, str | None] = {}
    for h in all_hosts:
        r = rng.random()
        ts = EPOCH
        if r < 0.05:
            robots_rows.append((h, None, 404, ts))  # absent -> NoRobots
            host_delay[h], host_disallow[h] = None, None
        elif r < 0.15:
            txt = "User-agent: *\nCrawl-delay: 2\nAllow: /\n"
            robots_rows.append((h, txt.encode(), 200, ts))
            host_delay[h], host_disallow[h] = 2000, None
        elif r < 0.30:
            txt = "User-agent: *\nDisallow: /private\n"
            robots_rows.append((h, txt.encode(), 200, ts))
            host_delay[h], host_disallow[h] = None, "/private"
        else:
            robots_rows.append((h, b"User-agent: *\nAllow: /\n", 200, ts))
            host_delay[h], host_disallow[h] = None, None

    # page name universe per host (some under /private on disallow hosts)
    host_pages: dict[str, list[str]] = {}
    for h in all_hosts:
        urls = []
        for j in range(per_host[h]):
            path = f"/p{j}.html"
            if host_disallow[h] and j % 7 == 3:
                path = f"/private/p{j}.html"
            urls.append(f"https://{h}{path}")
        host_pages[h] = urls
    all_urls = [u for h in all_hosts for u in host_pages[h]]

    # language per host (deterministic rotation)
    host_lang = {h: LANGS[i % len(LANGS)] for i, h in enumerate(all_hosts)}

    pages: list[tuple] = []
    golden_links: dict[str, list[tuple[str, str, str]]] = {}
    golden_anchors: dict[str, list[tuple[str, str]]] = {}

    for h in all_hosts:
        lang = host_lang[h]
        n_h = len(host_pages[h])
        for j, url in enumerate(host_pages[h]):
            page_rng = random.Random(zlib.crc32(f"{seed}|{h}|{j}".encode()))
            # office/PDF payload pages (opt-in; the draw is guarded so
            # office_share=0.0 leaves the rng stream untouched)
            if office_share and lang not in ("rus", "jpn") and page_rng.random() < office_share:
                doc_kind = ("docx", "odt", "pdf")[page_rng.randrange(3)]
                targets: list[str] = []
                tseen: set[str] = set()
                for _ in range(page_rng.randint(2, 5)):
                    th = all_hosts[page_rng.randrange(len(all_hosts))]
                    tp = host_pages[th]
                    t = tp[page_rng.randrange(len(tp))] if tp else f"https://{th}/"
                    cu = canonicalize(t)
                    if cu and cu != url and cu not in tseen:
                        tseen.add(cu)
                        targets.append(cu)
                s1 = _lang_sentence(page_rng, lang, 25)
                s2 = _lang_sentence(page_rng, lang, 25)
                payload, golden_text = _office_page(doc_kind, s1, s2, targets)
                ts = EPOCH + timedelta(seconds=len(pages))
                pages.append((url, ts, payload, golden_text, lang))
                method = "pdf" if doc_kind == "pdf" else "office"
                golden_links[url] = [
                    (t, "onseed" if host_of(t) == h else "outgoing", method)
                    for t in targets
                ]
                continue
            latin1 = page_rng.random() < 0.10 and lang not in ("rus", "jpn")
            meta_nofollow = page_rng.random() < 0.05
            use_base = page_rng.random() < 0.08
            # non-UTF8 legacy encodings WITHOUT meta charset: the
            # chardetng-style guess tier must byte-identically recover
            # these (decoding/mod.rs:203-261)
            if lang == "rus":
                enc = "cp1251"
            elif lang == "jpn":
                enc = "shift_jis"
            elif latin1:
                enc = "iso-8859-1"
            else:
                enc = "utf-8"
            b = _HtmlBuilder()
            b.raw("<!DOCTYPE html>")
            b.raw("<html><head>")
            if latin1:
                b.raw('<meta charset="iso-8859-1">')
            if meta_nofollow:
                b.raw('<meta name="robots" content="nofollow">')
            base_href = None
            if use_base:
                base_href = f"https://{h}/base/"
                b.raw(f'<base href="{base_href}">')
            b.raw("<title>")
            b.text(f"Page {j} of {h}")
            b.raw("</title></head><body>")
            b.gap("\n")
            b.raw("<h1>")
            b.text(_lang_sentence(page_rng, lang, 6))
            b.raw("</h1>")
            b.gap("\n")

            # anchors (80% same-host / 15% cross-host / 5% junk);
            # links_range=(30,90)+ approximates real link-dense pages
            n_links = page_rng.randint(*links_range)
            raw_hrefs: list[tuple[str, bool, str]] = []  # (href, nofollow, anchor)
            for k in range(n_links):
                r = page_rng.random()
                if r < 0.80 and n_h > 1:
                    tj = page_rng.randrange(n_h)
                    target = host_pages[h][tj]
                    if page_rng.random() < 0.5:
                        # relative form
                        href = target.split(h, 1)[1]
                    else:
                        href = target
                elif r < 0.95:
                    th = all_hosts[page_rng.randrange(len(all_hosts))]
                    tp = host_pages[th]
                    href = tp[page_rng.randrange(len(tp))] if tp else f"https://{th}/"
                else:
                    junk = page_rng.random()
                    if junk < 0.3:
                        href = url  # self link
                    elif junk < 0.55:
                        href = "#frag-only"  # fragment-only -> self -> dropped
                    elif junk < 0.75:
                        href = raw_hrefs[-1][0] if raw_hrefs else url  # dup
                    elif junk < 0.9:
                        href = f"https://{h}/missing{page_rng.randrange(50)}.html"
                    else:
                        href = "data:text/plain;base64,aGk="
                nofollow = page_rng.random() < 0.06
                anchor = _lang_sentence(page_rng, lang, 3) + " & more"
                raw_hrefs.append((href, nofollow, anchor))
                b.raw(f'<p><a href="{href}"')
                if nofollow:
                    b.raw(' rel="nofollow"')
                b.raw(">")
                b.text(anchor)
                b.raw("</a></p>")
                b.gap("\n")

            b.raw("<div>")
            b.text(_lang_sentence(page_rng, lang, 40))
            if latin1:
                b.text(" caf\xe9 entr\xe9e na\xefve")
            b.raw("</div>")
            b.gap("\n")
            for _ in range(body_paragraphs - 1):
                b.raw("<p>")
                b.text(_lang_sentence(page_rng, lang, 60))
                b.raw("</p>")
                b.gap("\n")
            b.raw("</body></html>")

            html_bytes = b.html().encode(enc)
            text = b.golden_text()
            ts = EPOCH + timedelta(seconds=len(pages))
            pages.append((url, ts, html_bytes, text, lang))

            # golden links by construction (same rules the extractor must
            # apply: nofollow skip, base resolve, canonicalize, self-link
            # filter, first-occurrence dedup, data: passthrough)
            links: list[tuple[str, str, str]] = []
            anchors: list[tuple[str, str]] = []
            if not meta_nofollow:
                resolve_base = base_href if base_href else url
                seen: set[str] = set()
                for href, nofollow, anchor in raw_hrefs:
                    if nofollow:
                        continue
                    if href.startswith("data:"):
                        if href not in seen:
                            seen.add(href)
                            links.append((href, "data", "html_a"))
                        continue
                    cu = canonicalize(href, base=resolve_base)
                    if cu is None or cu == url or cu in seen:
                        continue
                    seen.add(cu)
                    kind = "onseed" if host_of(cu) == h else "outgoing"
                    links.append((cu, kind, "html_a"))
                    # anchor of the first surviving occurrence, by the
                    # same admission rules (extract_anchor_pairs twin)
                    anchors.append((cu, anchor))
            golden_links[url] = links
            golden_anchors[url] = anchors

    # seeds (FIXTURES.md §3): normal hosts, mega, crawl-delay host,
    # disallowed path, blacklisted host — 16 total
    seeds: list[str] = []
    delay_hosts = [h for h in all_hosts if host_delay[h]]
    disallow_hosts = [h for h in all_hosts if host_disallow[h]]
    for h in hosts:
        if len(seeds) >= 12:
            break
        if host_pages[h]:
            seeds.append(host_pages[h][0])
    seeds.append(host_pages[mega][0])
    if delay_hosts:
        hp = host_pages[delay_hosts[0]]
        if hp and hp[0] not in seeds:
            seeds.append(hp[0])
    if disallow_hosts:
        priv = [u for u in host_pages[disallow_hosts[0]] if "/private/" in u]
        if priv:
            seeds.append(priv[0])
    seeds.append(host_pages[blocked][0])
    seeds = list(dict.fromkeys(seeds))[:16]  # order-preserving dedup

    config = CrawlConfig(
        per_host_budget={mega: Budget(kind=SEED_ONLY, depth_on_website=2)},
        blacklist=[r".*blocked\.example.*"],
    )

    return FixtureSet(
        pages=pages,
        robots=robots_rows,
        seeds=seeds,
        config=config,
        golden_links=golden_links,
        hosts=all_hosts,
        golden_anchors=golden_anchors,
    )


# --------------------------------------------------------------------------
# parquet writers (pyarrow; no SparkSession needed at synthesis time)
# --------------------------------------------------------------------------
def write_fixtures(fx: FixtureSet, out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = {}

    pages_tbl = pa.table(
        {
            "url": [p[0] for p in fx.pages],
            "warc_ts": pa.array([p[1] for p in fx.pages], pa.timestamp("us", "UTC")),
            "html": [p[2] for p in fx.pages],
            "text": [p[3] for p in fx.pages],
            "lang": [p[4] for p in fx.pages],
        }
    )
    paths["pages"] = os.path.join(out_dir, "pages.parquet")
    # small row groups: Spark parallelizes a parquet scan at row-group
    # granularity — a monolithic row group serializes the whole fetch+
    # extract stage into one task (Iceberg's write.target-file-size /
    # row-group sizing does this in production)
    pq.write_table(pages_tbl, paths["pages"], row_group_size=2048)

    robots_tbl = pa.table(
        {
            "host": [r[0] for r in fx.robots],
            "robots_txt": [r[1] for r in fx.robots],
            "status": pa.array([r[2] for r in fx.robots], pa.int32()),
            "retrieved_at": pa.array([r[3] for r in fx.robots], pa.timestamp("us", "UTC")),
        }
    )
    paths["robots"] = os.path.join(out_dir, "robots.parquet")
    pq.write_table(robots_tbl, paths["robots"])

    links_flat = [
        (src, u, k, m) for src, ls in fx.golden_links.items() for (u, k, m) in ls
    ]
    links_tbl = pa.table(
        {
            "src": [r[0] for r in links_flat],
            "dst": [r[1] for r in links_flat],
            "kind": [r[2] for r in links_flat],
            "method": [r[3] for r in links_flat],
        }
    )
    paths["golden_links"] = os.path.join(out_dir, "golden_links.parquet")
    pq.write_table(links_tbl, paths["golden_links"])

    anchors_flat = [
        (src, d, a) for src, ls in fx.golden_anchors.items() for (d, a) in ls
    ]
    anchors_tbl = pa.table(
        {
            "src": [r[0] for r in anchors_flat],
            "dst": [r[1] for r in anchors_flat],
            "anchor": [r[2] for r in anchors_flat],
        }
    )
    paths["golden_anchors"] = os.path.join(out_dir, "golden_anchors.parquet")
    pq.write_table(anchors_tbl, paths["golden_anchors"])

    paths["seeds"] = os.path.join(out_dir, "seeds.txt")
    with open(paths["seeds"], "w") as f:
        f.write("\n".join(fx.seeds) + "\n")

    paths["config"] = os.path.join(out_dir, "config.json")
    with open(paths["config"], "w") as f:
        f.write(fx.config.to_json())

    return paths


FIXTURE_FORMAT_VERSION = 5  # bump to invalidate cached fixture dirs


def ensure_fixtures(
    out_dir: str,
    n_pages: int = 2000,
    n_hosts: int = 24,
    body_paragraphs: int = 1,
    links_range: tuple[int, int] = (5, 30),
) -> dict[str, str]:
    """Generate-once cache keyed by a marker file."""
    marker = os.path.join(
        out_dir,
        f".done_v{FIXTURE_FORMAT_VERSION}_{n_pages}_{n_hosts}"
        f"_{body_paragraphs}_{links_range[0]}-{links_range[1]}",
    )
    names = ["pages", "robots", "golden_links", "golden_anchors"]
    if os.path.exists(marker):
        return {
            **{n: os.path.join(out_dir, f"{n}.parquet") for n in names},
            "seeds": os.path.join(out_dir, "seeds.txt"),
            "config": os.path.join(out_dir, "config.json"),
        }
    fx = generate_fixtures(
        n_pages=n_pages,
        n_hosts=n_hosts,
        body_paragraphs=body_paragraphs,
        links_range=links_range,
    )
    paths = write_fixtures(fx, out_dir)
    with open(marker, "w") as f:
        f.write("ok")
    return paths
