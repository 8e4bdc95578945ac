"""Output checks, computed apart from the program.

Every check compares the program's output with a fact the generator
planted (``gen.py``) or with a property the method must have.  Each
returns ``(failed, problems)``: the set of document ids that failed and
a short description per failure kind.  A document fails when it is
missing, carries an ``internal-error:*`` code, or fails a check.
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict

# the program's pre-tokenizer count, restated: words + single
# punctuation marks (Java regex classes are ASCII, as re.ASCII makes
# Python's)
_TOKEN_RE = re.compile(r"\w+|[^\w\s]", re.ASCII)


class Result:
    def __init__(self) -> None:
        self.failed: set[str] = set()
        self.problems: Counter = Counter()

    def fail(self, doc_id: str, why: str) -> None:
        self.failed.add(doc_id)
        self.problems[why] += 1


def _doc_text(spans: list[dict]) -> str:
    return "\n".join(s["text"] or "" for s in spans)


def check_documents(rows: list[dict], facts: dict[str, dict]) -> Result:
    """Per-document output of the fused extraction stage.

    ``rows``: one dict per output row with ``doc_id`` and ``spans``
    (dicts with ``kind``, ``text``, ``media_ref``, ``offset``) and,
    where the output carries them, ``n_bytes`` and ``error_codes``.
    Checks: the doc-id set equals the generator's, once each; offsets
    run 0..n-1; the planted token is in the output text; input media
    refs appear in input order; ``n_bytes`` equals Σ html and text
    lengths; no ``internal-error:*`` code."""
    res = Result()
    seen: Counter = Counter(r["doc_id"] for r in rows)
    for doc_id in facts.keys() - seen.keys():
        res.fail(doc_id, "missing document")
    for doc_id in seen.keys() - facts.keys():
        res.fail(doc_id, "unexpected document")
    for r in rows:
        doc_id = r["doc_id"]
        fact = facts.get(doc_id)
        if fact is None:
            continue
        if seen[doc_id] > 1:
            res.fail(doc_id, "duplicated document")
        spans = r["spans"]
        if [s["offset"] for s in spans] != list(range(len(spans))):
            res.fail(doc_id, "offsets not 0..n-1")
        if fact["token"] not in _doc_text(spans):
            res.fail(doc_id, "planted token missing")
        want_refs = fact.get("media_refs")
        if want_refs is not None:
            wanted = set(want_refs)
            got = [s["media_ref"] for s in spans if s["media_ref"] in wanted]
            if got != want_refs:
                res.fail(doc_id, "media refs out of order or missing")
        if "n_bytes" in r and r["n_bytes"] != fact["n_bytes"]:
            res.fail(doc_id, "n_bytes differs from input")
        codes = r.get("error_codes") or {}
        if any(c.startswith("internal-error:") for c in dict(codes)):
            res.fail(doc_id, "internal error")
    return res


def group_spans(rows: list[dict]) -> dict[str, list[dict]]:
    """Exploded span rows ``(doc_id, offset, kind, text, media_ref)``
    → per-document span lists in offset order."""
    by_doc: dict[str, list[dict]] = defaultdict(list)
    for r in rows:
        by_doc[r["doc_id"]].append(r)
    for spans in by_doc.values():
        spans.sort(key=lambda s: s["offset"])
    return by_doc


def n_tokens(text: str | None) -> int:
    return len(_TOKEN_RE.findall(text or ""))


def check_crawl(
    by_doc: dict[str, list[dict]],
    survivors: set[str],
    lined: dict[str, str],
    packs: list[dict],
    facts: dict,
    budget: int,
) -> Result:
    """Output of the crawl curation chain.

    * one document per response record, none per request or metadata
      record (those share the response's URI, so a leak shows as a
      duplicated offset or an extra document);
    * each redirect yields exactly one ``redirect`` span carrying its
      planted status and ``Location``;
    * the planted token survives every content coding, charset, PDF
      and feed body;
    * each exact-duplicate family keeps exactly one survivor, and every
      clearly unique page (no family, no shared boilerplate line)
      survives the gates and dedup;
    * packing: every survivor in exactly one pack, token counts match
      a recount of the surviving text, and each pack's documents start
      within its budget (a pack may overrun by its last document only).
    """
    res = Result()
    responses = facts["responses"]
    for url in responses.keys() - by_doc.keys():
        res.fail(url, "missing document")
    for url in by_doc.keys() - responses.keys():
        res.fail(url, "unexpected document")
    for url, spans in by_doc.items():
        fact = responses.get(url)
        if fact is None:
            continue
        if [s["offset"] for s in spans] != list(range(len(spans))):
            res.fail(url, "offsets not 0..n-1 (duplicated record?)")
        if fact["kind"] == "redirect":
            got = [(s["kind"], s["text"], s["media_ref"]) for s in spans]
            if got != [("redirect", fact["status"], fact["location"])]:
                res.fail(url, "redirect span wrong")
        elif fact["token"] not in _doc_text(spans):
            res.fail(url, "planted token missing or mis-decoded")

    for fam in facts["exact"]:
        kept = [u for u in fam if u in survivors]
        if len(kept) != 1:
            for u in fam:
                res.fail(u, f"exact family kept {len(kept)} survivors")
    for url, fact in responses.items():
        unique = (fact["family"] is None and not fact["boilerplate"]
                  and fact["kind"] != "redirect")
        if unique and url not in survivors:
            res.fail(url, "clearly unique page did not survive")

    packed = Counter(p["doc_id"] for p in packs)
    for url in survivors - packed.keys():
        res.fail(url, "survivor in no pack")
    for url, c in packed.items():
        if c > 1:
            res.fail(url, "document in more than one pack")
        if url not in survivors:
            res.fail(url, "packed document is not a survivor")
    by_pack: dict[tuple, list[dict]] = defaultdict(list)
    for p in packs:
        if p["n_tokens"] != n_tokens(lined.get(p["doc_id"])):
            res.fail(p["doc_id"], "pack token count differs from recount")
        by_pack[(p["bucket"], p["pack_id"])].append(p)
    for members in by_pack.values():
        members.sort(key=lambda p: p["pack_seq"])
        if sum(p["n_tokens"] for p in members[:-1]) >= budget:
            for p in members:
                res.fail(p["doc_id"], "pack over its token budget")
    return res
