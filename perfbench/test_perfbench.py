"""Tests of the benchmark's own generators and checks (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402


# ------------------------------------------------------ generators

@pytest.mark.parametrize("make", [
    lambda s: gen.extract_docs(s, 60)[0],
    lambda s: gen.crawl_archives(s)[0],
], ids=["extract_job", "crawl_curate"])
def test_generator_is_a_function_of_the_seed(make):
    assert make(7) == make(7)
    assert make(7) != make(8)


def test_extract_docs_make_up():
    rows, facts = gen.extract_docs(3, 300)
    sizes = sorted(f["n_bytes"] for f in facts.values())
    median = sizes[len(sizes) // 2]
    assert 2000 < median < 8000
    assert sizes[-1] > 20 * median          # the planted giant pages
    kinds = {s["kind"] for r in rows for s in r["spans"]}
    assert kinds == {"html", "text", "image", "video", "audio"}
    for r in rows:
        f = facts[r["doc_id"]]
        assert f["n_bytes"] == sum(len(s["text"] or "") for s in r["spans"])
        assert [s["media_ref"] for s in r["spans"] if s["media_ref"]] == f["media_refs"]


def test_crawl_archive_make_up():
    import gzip

    archives, facts = gen.crawl_archives(5)
    text = b"".join(gzip.decompress(a) for a in archives)
    n_fetch = len(facts["responses"])
    for wtype in (b"request", b"response", b"metadata"):
        assert text.count(b"WARC-Type: " + wtype + b"\r\n") == n_fetch
    for needle in (b"Transfer-Encoding: chunked", b"Content-Encoding: gzip",
                   b"charset=windows-1252", b"Shift_JIS", b"application/pdf",
                   b"application/rss+xml", b"application/atom+xml",
                   b"HTTP/1.1 30"):
        assert needle in text, needle


# ------------------------------------------------------------ checks

def _good_documents(facts: dict) -> list[dict]:
    """An output that meets every fact of ``extract_docs``."""
    rows = []
    for doc_id, f in facts.items():
        spans = [("text", f"lead {f['token']} tail", None)]
        spans += [("media", "", ref) for ref in f.get("media_refs", [])]
        rows.append({
            "doc_id": doc_id,
            "spans": [{"kind": k, "text": t, "media_ref": m, "offset": i}
                      for i, (k, t, m) in enumerate(spans)],
            "n_bytes": f["n_bytes"],
            "error_codes": {"unexpected-null-character": 1},
        })
    return rows


@pytest.fixture
def docs():
    _, facts = gen.extract_docs(11, 40)
    return facts, _good_documents(facts)


def test_documents_pass_when_output_is_right(docs):
    facts, rows = docs
    res = checks.check_documents(rows, facts)
    assert not res.failed, res.problems


def _with_media(rows):
    return next(r for r in rows if len(r["spans"]) > 2)


def test_documents_reject_dropped_span(docs):
    facts, rows = docs
    r = _with_media(rows)
    del r["spans"][1]
    for i, s in enumerate(r["spans"]):
        s["offset"] = i
    assert checks.check_documents(rows, facts).failed == {r["doc_id"]}


def test_documents_reject_swapped_offsets(docs):
    facts, rows = docs
    r = _with_media(rows)
    r["spans"][0]["offset"], r["spans"][1]["offset"] = 1, 0
    assert checks.check_documents(rows, facts).failed == {r["doc_id"]}


def test_documents_reject_swapped_media_order(docs):
    facts, rows = docs
    r = _with_media(rows)
    a, b = r["spans"][1], r["spans"][2]
    a["media_ref"], b["media_ref"] = b["media_ref"], a["media_ref"]
    assert checks.check_documents(rows, facts).failed == {r["doc_id"]}


def test_documents_reject_duplicated_and_missing_document(docs):
    facts, rows = docs
    rows.append(copy.deepcopy(rows[0]))
    missing = rows.pop(1)["doc_id"]
    res = checks.check_documents(rows, facts)
    assert res.failed == {rows[0]["doc_id"], missing}


def test_documents_reject_internal_error_and_bad_bytes(docs):
    facts, rows = docs
    rows[0]["error_codes"] = {"internal-error:RecursionError": 1}
    rows[0]["spans"] = []
    rows[1]["n_bytes"] += 1
    assert checks.check_documents(rows, facts).failed == {
        rows[0]["doc_id"], rows[1]["doc_id"]}


def _good_crawl(facts: dict, budget: int):
    """An output of the curation chain that meets every planted fact."""
    by_doc = {}
    for url, f in facts["responses"].items():
        if f["kind"] == "redirect":
            by_doc[url] = [{"doc_id": url, "offset": 0, "kind": "redirect",
                            "text": f["status"], "media_ref": f["location"]}]
        else:
            by_doc[url] = [{"doc_id": url, "offset": 0, "kind": "text",
                            "text": f"The {f['token']} record.", "media_ref": None}]
    dropped = {u for fam in facts["exact"] for u in fam[1:]}
    survivors = {u for u, f in facts["responses"].items()
                 if f["kind"] != "redirect" and u not in dropped}
    lined = {u: "one two three , four" for u in survivors}
    packs, start = [], 0
    for u in sorted(survivors):
        packs.append({"doc_id": u, "n_tokens": 5, "bucket": 0,
                      "pack_id": start // budget, "pack_seq": start})
        start += 5
    return by_doc, survivors, lined, packs


@pytest.fixture
def crawl():
    _, facts = gen.crawl_archives(13)
    return facts, list(_good_crawl(facts, 64))


def _check_crawl(facts, out):
    return checks.check_crawl(*out, facts, 64)


def test_crawl_passes_when_output_is_right(crawl):
    facts, out = crawl
    assert not _check_crawl(facts, out).failed


def test_crawl_rejects_token_in_wrong_charset(crawl):
    facts, out = crawl
    url, f = next((u, f) for u, f in facts["responses"].items()
                  if f["kind"] == "html_cp1252")
    mojibake = f["token"].encode("cp1252").decode("utf-8", errors="replace")
    out[0][url][0]["text"] = f"The {mojibake} record."
    assert _check_crawl(facts, out).failed == {url}


def test_crawl_rejects_dropped_redirect_span_and_duplicated_record(crawl):
    facts, out = crawl
    redirect = next(u for u, f in facts["responses"].items() if f["kind"] == "redirect")
    out[0][redirect] = []
    page = next(u for u, f in facts["responses"].items() if f["kind"] == "pdf")
    out[0][page] = out[0][page] * 2          # a request record leaking in
    assert _check_crawl(facts, out).failed == {redirect, page}


def test_crawl_rejects_exact_family_with_two_survivors(crawl):
    facts, out = crawl
    fam = facts["exact"][0]
    out[1].add(fam[1])
    out[2][fam[1]] = "one"
    out[3].append({"doc_id": fam[1], "n_tokens": 1, "bucket": 9,
                   "pack_id": 0, "pack_seq": 1})
    assert _check_crawl(facts, out).failed == set(fam)


def test_crawl_rejects_pack_over_budget(crawl):
    facts, out = crawl
    for p in out[3]:
        p["pack_id"] = 0
    assert _check_crawl(facts, out).failed == {p["doc_id"] for p in out[3]}


def test_pack_token_recount_matches_the_program_pattern():
    # \w+ | single non-space punctuation, ASCII classes
    assert checks.n_tokens("Hello, world! café 日本") == 8
