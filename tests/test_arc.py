"""ARC container round-trip tests, mirroring the reference's synthetic
test recipe (ArcFileReaderTests.java:389-491): random unicode URLs
including one with a space (forcing the malformed-metadata fallback),
random headers, 1000-3000 byte payloads; byte-compare on re-read."""

import random

import pytest

from ccspark import arc


def _records(n=50, seed=7):
    rng = random.Random(seed)
    out = []
    for i in range(n):
        url = f"http://host{rng.randint(0, 20)}.example.com/p/{i}"
        if i % 10 == 3:
            url += " with space"  # malformed metadata line path
        if i % 7 == 0:
            url += "?q=é中"
        payload = bytes(rng.getrandbits(8) for _ in range(rng.randint(1000, 3000)))
        headers = [(f"X-H{j}", f"v{rng.randint(0, 999)}") for j in range(rng.randint(1, 3))]
        headers.append(("Content-Type", "text/html; charset=utf-8"))
        out.append({"url": url, "payload": payload, "headers": headers})
    return out


def test_roundtrip_bytes():
    recs = _records()
    blob = arc.write_arc_bytes(recs, "t.arc.gz")
    back = list(arc.read_arc_bytes(blob, "t.arc.gz"))
    assert len(back) == len(recs)
    for orig, got in zip(recs, back):
        assert got["url"] == orig["url"]
        assert got["payload"] == orig["payload"], got["url"]
        got_headers = dict(got["headers"])
        for k, v in orig["headers"]:
            assert got_headers[k] == v
        assert got["mime"] == "text/html"
        assert got["host_ip"] == "0.0.0.0"


def test_offsets_monotonic_and_header_member_skipped():
    recs = _records(5)
    blob = arc.write_arc_bytes(recs)
    back = list(arc.read_arc_bytes(blob))
    offsets = [r["arc_offset"] for r in back]
    assert offsets == sorted(offsets)
    assert offsets[0] > 0  # first member (filedesc) was skipped


def test_empty_archive():
    blob = arc.write_arc_bytes([])
    assert list(arc.read_arc_bytes(blob)) == []


def test_scan_arc_spark(spark, tmp_path):
    recs = _records(30)
    for part in range(3):
        (tmp_path / f"f{part}.arc.gz").write_bytes(
            arc.write_arc_bytes(recs[part * 10 : (part + 1) * 10], f"f{part}.arc.gz")
        )
    (tmp_path / "ignored.txt").write_text("not an arc")
    df = arc.scan_arc(spark, str(tmp_path))
    rows = df.collect()
    assert len(rows) == 30
    assert len({r["arc_file"] for r in rows}) == 3
    by_url = {r["url"]: r for r in rows}
    for rec in recs:
        got = by_url[rec["url"]]
        assert bytes(got["payload"]) == rec["payload"]
        hd = {h["key"]: h["value"] for h in got["headers"]}
        for k, v in rec["headers"]:
            assert hd[k] == v


# -- streamed (chunked) scan ---------------------------------------------------


def test_stream_member_walk_matches_in_memory():
    """_iter_gzip_members_stream == _iter_gzip_members on a multi-member
    archive at adversarial chunk sizes (boundaries mid-header,
    mid-member, mid-trailer), including the truncated-tail best-effort."""
    import io

    recs = _records(30)
    blob = arc.write_arc_bytes(recs, "t.arc.gz")
    want = list(arc._iter_gzip_members(blob))
    assert len(want) == 31  # filedesc header member + 30 records
    for chunk in (1, 7, 64, 1 << 20):
        got = list(arc._iter_gzip_members_stream(io.BytesIO(blob), chunk_bytes=chunk))
        assert got == want, f"chunk_bytes={chunk}"
    # truncated tail: both walks yield the same partial member set
    cut = blob[: len(blob) - 40]
    want_t = list(arc._iter_gzip_members(cut))
    got_t = list(arc._iter_gzip_members_stream(io.BytesIO(cut), chunk_bytes=11))
    assert [o for o, _ in got_t] == [o for o, _ in want_t]
    assert all(a[1] == b[1] for a, b in zip(got_t[:-1], want_t[:-1]))


def test_scan_arc_stream_identical_to_whole_file(spark, tmp_path):
    """scan_arc_stream must produce byte-identical rows to scan_arc on a
    multi-file, multi-member fixture — with chunk_bytes far smaller than
    the archive and max_batch_rows forcing multiple emitted batches."""
    recs = _records(30)
    for part in range(3):
        (tmp_path / f"f{part}.arc.gz").write_bytes(
            arc.write_arc_bytes(recs[part * 10 : (part + 1) * 10], f"f{part}.arc.gz")
        )
    whole = arc.scan_arc(spark, str(tmp_path)).toPandas()
    streamed = arc.scan_arc_stream(
        spark, str(tmp_path), chunk_bytes=256, max_batch_rows=4
    ).toPandas()
    key = ["arc_file", "arc_offset"]
    whole = whole.sort_values(key).reset_index(drop=True)
    streamed = streamed.sort_values(key).reset_index(drop=True)
    assert len(whole) == len(streamed) == 30
    for col in whole.columns:
        a = [repr(x) for x in whole[col].tolist()]
        b = [repr(x) for x in streamed[col].tolist()]
        assert a == b, f"column {col} differs"


def test_scan_warc_stream_identical_to_whole_file(spark, tmp_path):
    from datetime import datetime, timezone

    from ccspark import warc

    ts = datetime(2013, 5, 1, 12, 0, 0, tzinfo=timezone.utc)
    for fi in range(2):
        recs = [
            dict(
                warc_type="response",
                url=f"http://h{i}.com/{fi}",
                ts=ts,
                payload=warc.build_http_response(f"<html>doc {fi}/{i}</html>".encode()),
            )
            for i in range(8)
        ]
        (tmp_path / f"part{fi}.warc.gz").write_bytes(warc.write_warc_bytes(recs))
    whole = warc.scan_warc(spark, str(tmp_path)).toPandas()
    streamed = warc.scan_warc_stream(
        spark, str(tmp_path), chunk_bytes=128, max_batch_rows=3
    ).toPandas()
    key = ["warc_file", "warc_offset"]
    whole = whole.sort_values(key).reset_index(drop=True)
    streamed = streamed.sort_values(key).reset_index(drop=True)
    assert len(whole) == len(streamed) > 0
    for col in whole.columns:
        a = [repr(x) for x in whole[col].tolist()]
        b = [repr(x) for x in streamed[col].tolist()]
        assert a == b, f"column {col} differs"
