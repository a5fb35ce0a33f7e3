"""Distributed WARC archive source + CDX(J) index build.

The reference's WARC store is write-mostly with skip-pointer point
reads (atra/src/stores/warc.rs:119-140, warc/src/reader.rs:380-470).
At Common-Crawl scale the archive is ALSO a batch input: reprocessing
jobs re-read `.warc` files into the pages table, and random access
goes through a CDX index keyed by SURT. This module is that read path
as a Spark source:

- one task per WARC file — files are the export sink's rotation unit
  (plans/export.py `_RotatingWarcWriter`), so they are the natural
  split unit; a file list DataFrame is repartitioned across the
  cluster and each task parses whole records with the span-tracked
  grammar (`plans.export.iter_warc_spans` — single implementation of
  the record grammar, shared with the writer's tests);
- continuation chains (payloads the writer segmented at 1 GB,
  warc_ext/write.rs:219-230) reassemble through ONE shuffle keyed on
  the origin record id; unsegmented responses — the overwhelming
  majority — take a zero-shuffle fast path;
- the CDX index derives from the same scan with `with_payload=False`,
  so index builds never move payload bytes, and is range-partitioned
  by SURT so each output shard is a sorted, binary-searchable run
  (the Common-Crawl `cdx-*.gz` layout).

Cluster posture: paths here are plain `open()` because the sandbox is
a shared local fs; on a real cluster the file list comes from the
object store's listing and `_read_file` swaps to the storage seam
(operators/bucket_chain.LocalBucketStorage is the pattern) — the plan
shapes (per-file tasks, one reassembly shuffle, range-partitioned
index write) are unchanged.
"""

from __future__ import annotations

import os
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.jvm_url import surt_col
from ..plans.export import iter_warc_spans

_RECORD_COLS = (
    "warc_file string, offset long, length long, record_id string, "
    "warc_type string, url string, warc_date string, payload_digest string, "
    "block_digest string, segment_number int, segment_origin_id string, "
    "segment_total_length long, warc_profile string, refers_to_uri string, "
    "refers_to_date string, http_status int, mime string, payload_off int, "
    "body binary"
)

_PAGE_COLS = (
    "url string, warc_date string, html binary, http_status int, "
    "mime string, payload_digest string, warc_file string, offset long, "
    "n_segments int"
)


def list_warc_files(warc_dir: str) -> list[str]:
    """Deterministic (sorted) `.warc` listing under a directory."""
    return sorted(
        os.path.join(warc_dir, f)
        for f in os.listdir(warc_dir)
        if f.endswith(".warc")
    )


def _parse_http_meta(body: bytes) -> tuple[int | None, str | None, int]:
    """(status, content-type, payload offset) from a stored
    `application/http;msgtype=response` block — header-only parse: the
    payload is NOT sliced (a scan that only needs status/mime must not
    copy a 1 GB body to throw it away). The writer packs status line +
    headers + CRLFCRLF + payload (plans/export._http_header_block,
    mirroring the reference's meta.headers capture, result.rs:32-90)."""
    sep = body.find(b"\r\n\r\n")
    if sep < 0:
        return None, None, 0
    lines = body[:sep].split(b"\r\n")
    status: int | None = None
    first = lines[0].split()
    if len(first) >= 2 and first[0].startswith(b"HTTP/"):
        try:
            status = int(first[1])
        except ValueError:
            status = None
    mime: str | None = None
    for ln in lines[1:]:
        k, _, v = ln.partition(b":")
        if k.strip().lower() == b"content-type":
            mime = v.strip().decode("latin-1").split(";")[0].strip()
            break
    return status, mime, sep + 4


def _parse_http_head(body: bytes) -> tuple[int | None, str | None, bytes]:
    """`_parse_http_meta` plus the payload slice, for the page-
    materializing path that actually keeps the bytes."""
    status, mime, off = _parse_http_meta(body)
    return status, mime, body[off:]


def scan_warc_records(
    spark: SparkSession,
    paths: str | list[str],
    with_payload: bool = True,
) -> DataFrame:
    """Every WARC record in the archive as one row — the raw scan both
    `read_warc_pages` and `build_cdx` derive from.

    `with_payload=False` keeps offsets/digests/HTTP metadata but drops
    the body bytes inside the scan task, so downstream exchanges (the
    CDX range partitioning) never carry payloads."""
    files = list_warc_files(paths) if isinstance(paths, str) else sorted(paths)
    if not files:
        return spark.createDataFrame([], _RECORD_COLS)
    fdf = spark.createDataFrame([(p,) for p in files], "warc_file string")
    # round-robin, NOT hash: hashing #files keys into #files buckets
    # leaves ~1/e of the tasks empty and stacks several rotate-sized
    # files on others; round-robin gives the exact one-file-per-task
    # spread the module is designed around
    par = min(len(files), spark.sparkContext.defaultParallelism)
    fdf = fdf.repartition(par)
    keep_body = bool(with_payload)

    def parse(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [c.split()[0] for c in _RECORD_COLS.split(", ")]
        # one DataFrame per FILE, not per batch: the working set is one
        # rotate-sized file (bytes + its rows), never the whole
        # partition's archive at once
        for pdf in batches:
            for path in pdf["warc_file"]:
                with open(path, "rb") as f:
                    data = f.read()
                rows = []
                for off, length, hdrs, body in iter_warc_spans(data):
                    status, mime, p_off = _parse_http_meta(body)
                    seg = hdrs.get("WARC-Segment-Number")
                    tot = hdrs.get("WARC-Segment-Total-Length")
                    rows.append(
                        (
                            path,
                            off,
                            length,
                            hdrs.get("WARC-Record-ID"),
                            hdrs.get("WARC-Type"),
                            hdrs.get("WARC-Target-URI"),
                            hdrs.get("WARC-Date"),
                            hdrs.get("WARC-Payload-Digest"),
                            hdrs.get("WARC-Block-Digest"),
                            int(seg) if seg else None,
                            hdrs.get("WARC-Segment-Origin-ID"),
                            int(tot) if tot else None,
                            hdrs.get("WARC-Profile"),
                            hdrs.get("WARC-Refers-To-Target-URI"),
                            hdrs.get("WARC-Refers-To-Date"),
                            status,
                            mime,
                            p_off,
                            bytes(body) if keep_body else None,
                        )
                    )
                del data
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return fdf.mapInPandas(parse, _RECORD_COLS)


def read_warc_pages(
    spark: SparkSession,
    paths: str | list[str],
    resolve_revisits: bool = True,
) -> DataFrame:
    """The archive as a pages table: (url, warc_ts, html, http_status,
    mime, payload_digest, warc_file, offset, n_segments, is_revisit) —
    html is the HTTP payload with the stored header block stripped,
    byte-identical to what the crawl wrote (roundtrip pinned in tests).

    Unsegmented responses (no WARC-Segment-Number) convert in the scan
    task — zero shuffle. Segmented chains group on the origin record
    id (the response's own record id; continuations carry it as
    WARC-Segment-Origin-ID, warc_ext/write.rs:262-287) — one shuffle
    sized by the rare multi-GB payloads only.

    ``resolve_revisits`` (default): ``revisit`` records — payload
    stored once under a digest-equal canonical, plans/export.py
    ``dedup_payloads`` — come back as full rows with the canonical's
    bytes, via one equi-join on WARC-Payload-Digest (the profile's own
    equivalence: a revisit record quotes the canonical's stored digest,
    so the digest IS the pointer — and unlike (Refers-To-URI, Date) it
    is immune to timestamp-rendering differences and to several
    responses sharing a (url, date)). Entirely JVM-side: the revisit
    branch needs no pandas pass, status/mime were parsed in the scan.
    A revisit whose canonical is missing from the given paths keeps a
    NULL html rather than being dropped — the caller decides.

    Timestamps: ``warc_ts`` is derived JVM-side from the record's
    WARC-Date string (a true UTC instant with ``Z``), so results are
    correct in ANY session timezone — rendering happens at display,
    not at parse."""
    rec = scan_warc_records(spark, paths, with_payload=True)
    plain = rec.filter(
        (F.col("warc_type") == "response") & F.col("segment_number").isNull()
    )

    # header strip fully JVM-side (round 6): the scan already computed
    # each record's HTTP status/mime and the payload's byte offset
    # inside the block, so the unsegmented fast path is a pure
    # substring projection — the former second mapInPandas pass here
    # round-tripped every payload byte through Arrow/Python again just
    # to slice it (output byte-identical; roundtrip pinned in tests)
    pages = plain.select(
        "url",
        "warc_date",
        F.expr("substring(body, payload_off + 1, length(body))").alias("html"),
        "http_status",
        "mime",
        "payload_digest",
        "warc_file",
        "offset",
        F.lit(1).alias("n_segments"),
    )

    # chain key: the response record's OWN id; continuations point at
    # it. No driver-side emptiness probe — the grouped branch stays in
    # the same lazy plan and costs nothing when no record is segmented.
    seg = rec.filter(F.col("segment_number").isNotNull())
    chained = seg.withColumn(
        "chain_id",
        F.when(
            F.col("warc_type") == "response", F.col("record_id")
        ).otherwise(F.col("segment_origin_id")),
    )

    def reassemble(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("segment_number")
        head = pdf.iloc[0]
        body = b"".join(bytes(b) for b in pdf["body"])
        tot = pdf["segment_total_length"].dropna()  # present on the last chunk
        if len(tot) and int(tot.iloc[0]) != len(body):
            raise ValueError(
                f"segment chain {head['chain_id']}: total-length "
                f"{int(tot.iloc[0])} != reassembled {len(body)}"
            )
        status, mime, payload = _parse_http_head(body)
        return pd.DataFrame(
            [
                (
                    head["url"],
                    head["warc_date"],
                    payload,
                    status,
                    mime,
                    head["payload_digest"],
                    head["warc_file"],
                    head["offset"],
                    len(pdf),
                )
            ],
            columns=[c.split()[0] for c in _PAGE_COLS.split(", ")],
        )

    joined = chained.groupBy("chain_id").applyInPandas(
        reassemble, _PAGE_COLS
    )
    resolved = (
        pages.unionByName(joined)
        .withColumn("warc_ts", F.to_timestamp("warc_date"))
        .drop("warc_date")
        .withColumn("is_revisit", F.lit(False))
        .select(
            "url", "warc_ts", "html", "http_status", "mime",
            "payload_digest", "warc_file", "offset", "n_segments",
            "is_revisit",
        )
    )
    if not resolve_revisits:
        return resolved

    rev = rec.filter(F.col("warc_type") == "revisit").select(
        "url",
        F.to_timestamp("warc_date").alias("warc_ts"),
        "http_status",
        "mime",
        "payload_digest",
        "warc_file",
        "offset",
    )
    # one (digest -> bytes) row per digest; identical digests carry
    # identical bodies, so first() is value-deterministic. The
    # left-semi pre-filter keeps every payload WITHOUT a revisit out
    # of the groupBy exchange (round 6): only the duplicated digests'
    # bytes shuffle, not the whole archive — the §8 "decide with small
    # rows" rule applied to the canon election.
    rev_digests = rev.select(F.col("payload_digest").alias("_cd")).distinct()
    canon = (
        resolved.join(
            rev_digests, resolved["payload_digest"] == rev_digests["_cd"], "left_semi"
        )
        .groupBy(F.col("payload_digest").alias("_cd"))
        .agg(F.first("html").alias("_chtml"))
    )
    rev_resolved = (
        rev.join(canon, F.col("payload_digest") == F.col("_cd"), "left")
        .select(
            "url",
            "warc_ts",
            F.col("_chtml").alias("html"),
            "http_status",
            "mime",
            "payload_digest",
            "warc_file",
            "offset",
            F.lit(1).alias("n_segments"),
            F.lit(True).alias("is_revisit"),
        )
    )
    return resolved.unionByName(rev_resolved)


_CDX_COLS = (
    "surt string, ts14 string, url string, mime string, http_status int, "
    "digest string, length long, offset long, filename string"
)


def build_cdx(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """CDX index over the archive: one row per response record,
    (surt, ts14, url, mime, http_status, digest, length, offset,
    filename). `length`/`offset` are the record's byte span in
    `filename` — `data[offset:offset+length]` re-parses as exactly one
    record (pinned in tests), giving O(1) random access to any page:
    the skip-pointer read path, served from an index instead of the
    store's in-band pointers (atra/src/stores/warc.rs:119-140).

    Payload bytes never leave the scan task (`with_payload=False`),
    so the index build moves ~100 bytes per record no matter how big
    the archive is. For segmented payloads the index row is the chain
    head (the `response` record); readers follow Segment-Origin-ID for
    the rest, as the WARC spec prescribes."""
    rec = scan_warc_records(spark, paths, with_payload=False)
    return (
        rec.filter(F.col("warc_type").isin("response", "revisit"))
        .filter(
            F.col("segment_number").isNull() | (F.col("segment_number") == 1)
        )
        .select(
            surt_col(F.col("url")).alias("surt"),
            # purely textual: WARC-Date is already the canonical UTC
            # "YYYY-MM-DDTHH:MM:SSZ"; round-tripping it through
            # to_timestamp+date_format would re-render in the SESSION
            # timezone and corrupt the key everywhere but UTC
            F.regexp_replace(
                F.substring("warc_date", 1, 19), r"[-:T]", ""
            ).alias("ts14"),  # first 19 chars also drops foreign
            # archives' fractional seconds
            "url",
            # the Common-Crawl CDX convention: revisit rows are marked
            # by mime, and their digest still names the payload, so a
            # digest-keyed lookup finds the canonical copy
            F.when(
                F.col("warc_type") == "revisit", F.lit("warc/revisit")
            ).otherwise(F.col("mime")).alias("mime"),
            "http_status",
            F.col("payload_digest").alias("digest"),
            "length",
            "offset",
            F.col("warc_file").alias("filename"),
        )
    )


def write_cdxj(
    cdx: DataFrame, out_dir: str, shards: int | None = None
) -> DataFrame:
    """Materialize the index as sorted CDXJ shard files: range-
    partition by (surt, ts14) so shard k's keys all precede shard
    k+1's, sort within each shard, write one `.cdxj` text file per
    partition (`surt ts14 {json}` lines — the Common-Crawl cdx-NNNNN
    layout, binary-searchable per shard + a tiny shard-boundary
    manifest built from the returned report)."""
    import json

    os.makedirs(out_dir, exist_ok=True)
    if shards:
        cdx = cdx.repartitionByRange(shards, "surt", "ts14")
    else:
        cdx = cdx.repartitionByRange("surt", "ts14")
    cdx = cdx.sortWithinPartitions("surt", "ts14")

    def write_part(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import uuid as _uuid

        path = None
        f = None
        n = 0
        first_key = last_key = None
        for pdf in batches:
            if f is None:
                path = os.path.join(
                    out_dir, f"cdx-{_uuid.uuid4().hex[:12]}.cdxj"
                )
                f = open(path, "w", encoding="utf-8")
            for r in pdf.itertuples(index=False):
                meta = {
                    "url": r.url,
                    "mime": r.mime,
                    "status": str(r.http_status),
                    "digest": r.digest,
                    "length": str(int(r.length)),
                    "offset": str(int(r.offset)),
                    "filename": os.path.basename(r.filename),
                }
                f.write(f"{r.surt} {r.ts14} {json.dumps(meta, sort_keys=True)}\n")
                if first_key is None:
                    first_key = f"{r.surt} {r.ts14}"
                last_key = f"{r.surt} {r.ts14}"
                n += 1
        if f is not None:
            f.close()
            yield pd.DataFrame(
                [(path, n, first_key, last_key)],
                columns=["path", "records", "first_key", "last_key"],
            )

    return cdx.mapInPandas(
        write_part,
        "path string, records int, first_key string, last_key string",
    )
