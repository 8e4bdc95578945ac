"""Seeded input generators for the benchmark workloads.

Each generator takes a seed and returns the bytes or rows the program
receives plus the facts it planted (the expectations the output checks
compare against).  Nothing here imports ``zhtml_spark``: a change to
the program cannot change a workload.  The same seed gives the same
inputs, byte for byte.

* ``extract_docs``  — interleaved documents in the engine's input
  schema (``doc_id``, ``spans: array<struct<kind,text,media_ref,
  offset>>``) for ``extract_job``.
* ``crawl_archives`` — multi-member ``.warc.gz`` archives with Common
  Crawl's record layout, for ``crawl_curate``.
"""

from __future__ import annotations

import gzip
import math
import os
import random
import statistics
import zlib

# ------------------------------------------------------------ prose

_DET = ["the", "a", "this", "that", "every", "our", "their", "each"]
_ADJ = [
    "ancient", "brave", "bright", "busy", "calm", "careful", "clever",
    "cold", "common", "distant", "eager", "early", "fair", "famous",
    "fierce", "foreign", "gentle", "green", "heavy", "hidden", "honest",
    "humble", "large", "late", "lively", "local", "lonely", "loyal",
    "mighty", "modern", "narrow", "noisy", "open", "polite", "private",
    "proud", "public", "quiet", "rapid", "rare", "recent", "rough", "royal",
    "rural", "silent", "simple", "small", "smooth", "solid", "spare",
    "steady", "strong", "sudden", "swift", "tender", "tidy", "tiny", "urban",
    "useful", "vast", "warm", "wealthy", "wild", "wise", "wooden", "yellow",
    "young",
]
_NOUN = [
    "architect", "astronomer", "baker", "bicycle", "blacksmith", "bridge",
    "cabinet", "canal", "carpenter", "castle", "cathedral", "cellar",
    "chapel", "chemist", "chimney", "clerk", "company", "cottage", "council",
    "courtyard", "dairy", "desert", "doctor", "editor", "engine", "evening",
    "factory", "farmer", "ferry", "festival", "forest", "fountain",
    "gallery", "garden", "glacier", "governor", "granary", "harbor",
    "hospital", "island", "jeweler", "journey", "judge", "kitchen",
    "lantern", "letter", "library", "lighthouse", "market", "meadow",
    "merchant", "mill", "miner", "monastery", "morning", "mountain",
    "museum", "neighbor", "nurse", "observatory", "ocean", "office",
    "orchard", "painter", "palace", "pasture", "pharmacy", "pilot",
    "pioneer", "plateau", "poet", "potter", "prairie", "quarry", "railway",
    "ranch", "report", "reservoir", "river", "road", "sailor", "school",
    "scientist", "shepherd", "shipyard", "shop", "singer", "soldier",
    "stable", "stadium", "station", "statue", "student", "summer", "surgeon",
    "tailor", "tavern", "teacher", "temple", "theater", "tower", "tram",
    "tunnel", "university", "valley", "village", "vineyard", "warehouse",
    "weaver", "wharf", "window", "winter", "workshop", "writer",
]
_VERB = [
    "admired", "borrowed", "built", "carried", "changed", "cleaned",
    "collected", "counted", "crossed", "delivered", "described", "designed",
    "discovered", "divided", "earned", "entered", "examined", "expanded",
    "explained", "finished", "fixed", "followed", "gathered", "guarded",
    "hired", "improved", "inspected", "invited", "launched", "loaded",
    "managed", "mapped", "measured", "moved", "noticed", "opened", "ordered",
    "organized", "painted", "photographed", "planned", "protected",
    "purchased", "reached", "rebuilt", "recorded", "repaired", "restored",
    "sketched", "studied", "supported", "surveyed", "taught", "tested",
    "traded", "trained", "visited", "watched", "welcomed",
]
_PREP = ["near", "behind", "across", "before", "after", "with", "without",
         "under", "around", "beside"]
_CONJ = ["and then", "because", "while", "although", "so", "but", "until"]


def sentence(rng: random.Random) -> str:
    """One English-shaped sentence (determiner/adjective/noun/verb
    templates with stopwords, so quality and language gates see
    ordinary prose)."""
    def np_() -> str:
        if rng.random() < 0.5:
            return f"{rng.choice(_DET)} {rng.choice(_ADJ)} {rng.choice(_NOUN)}"
        return f"{rng.choice(_DET)} {rng.choice(_NOUN)}"

    s = f"{np_()} {rng.choice(_VERB)} {np_()} {rng.choice(_PREP)} {np_()}"
    if rng.random() < 0.4:
        s += f" {rng.choice(_CONJ)} {np_()} {rng.choice(_VERB)} {np_()}"
    return s[0].upper() + s[1:] + "."


def prose(rng: random.Random, n_chars: int) -> str:
    out: list[str] = []
    size = 0
    while size < n_chars:
        s = sentence(rng)
        out.append(s)
        size += len(s) + 1
    return " ".join(out)


def token(rng: random.Random, prefix: str, i: int) -> str:
    """A token planted once in one document: unique by index, varied
    by seed, alphanumeric so extraction keeps it whole."""
    return f"zq{prefix}{i}k{rng.getrandbits(24):06x}"


# ------------------------------------------------- ordinary pages

_ENTITIES = ["&amp;", "&eacute;", "&#8217;", "&nbsp;", "&lt;", "&copy;",
             "&#x263A;", "&quot;", "&mdash;", "&notin;"]
_MALFORMED = [
    "<p>unclosed paragraph {t}",
    "<div class=box>{t}</span></div>",
    "<b><i>{t}</b></i>",
    "<table><td>{t}</table>",
    "<p title=unquoted value>{t}</p>",
    "<ul><li>{t}<li>{t}</ul>",
    "<p>{t}<!-- a comment -- with dashes --></p>",
    "<div><p>{t}</div></p>",
    "<span <b>{t}</span>",
]


def _filler_block(rng: random.Random) -> str:
    t = prose(rng, rng.randint(80, 400))
    words = t.split(" ")
    for _ in range(rng.randint(0, 3)):
        k = rng.randrange(len(words))
        words[k] = words[k] + " " + rng.choice(_ENTITIES)
    t = " ".join(words)
    r = rng.random()
    if r < 0.25:
        return rng.choice(_MALFORMED).format(t=t)
    if r < 0.35:
        return f"<p>{t} <a href=\"/ref/{rng.randrange(10**6)}\">more</a></p>"
    if r < 0.45:
        return f"<!-- block {rng.randrange(10**6)} --><h2>{sentence(rng)}</h2>"
    return f"<p>{t}</p>"


def page_html(rng: random.Random, tok: str, n_chars: int) -> str:
    """An ordinary page of about ``n_chars`` characters whose main
    paragraph carries ``tok``."""
    nav = "".join(
        f'<li><a href="/section/{k}">{rng.choice(_NOUN)}</a></li>'
        for k in range(rng.randint(3, 8))
    )
    lead = prose(rng, 300)
    cut = lead.find(". ") + 1 or len(lead)
    main = f"{lead[:cut]} The {tok} record {lead[cut:]}"
    parts = [
        "<!DOCTYPE html><html><head><title>",
        sentence(rng),
        "</title><meta charset=\"utf-8\"><style>p{margin:0}</style>"
        "<script>var x = '<p>not text</p>';</script></head><body>",
        f"<nav><ul>{nav}</ul></nav>",
        f"<article><h1>{sentence(rng)}</h1><p>{main}</p>",
    ]
    size = sum(len(p) for p in parts)
    while size < n_chars:
        b = _filler_block(rng)
        parts.append(b)
        size += len(b)
    parts.append(
        "</article><footer><p>Contact us &copy; 2026 "
        "<a href=\"/about\">about</a></p></footer></body></html>"
    )
    return "".join(parts)


def _split(rng: random.Random, s: str, n: int) -> list[str]:
    """Cut ``s`` into ``n`` pieces at arbitrary points (tags may span
    adjacent html spans)."""
    if n <= 1 or len(s) < 2 * n:
        return [s]
    cuts = sorted(rng.sample(range(1, len(s)), n - 1))
    return [s[a:b] for a, b in zip([0] + cuts, cuts + [len(s)])]


# --------------------------------------------------- extract_job

EXTRACT_MEAN_CHARS = 3500   # log-normal median of a page, characters
EXTRACT_SIGMA = 0.6
GIANT_SHARE = 0.01          # share of giant pages
GIANT_FACTOR = (30, 60)     # a giant is this many times the median


def extract_docs(seed: int, n_docs: int) -> tuple[list[dict], dict]:
    """Interleaved documents for ``extract_job``.

    Each document is one to three html runs (each cut into one to three
    html spans), separated by media spans (image, video or audio, each
    with a unique ``media_ref`` and no text) and text spans.  Returns
    ``(rows, facts)``; ``facts[doc_id]`` holds the planted ``token``,
    ``n_bytes`` (Σ html and text lengths) and ``media_refs`` in input
    order."""
    rng = random.Random(f"extract_job:{seed}")
    rows: list[dict] = []
    facts: dict[str, dict] = {}
    # sizes are fixed quantiles of the log-normal and the giants an even
    # ladder of factors; the seed only decides which document gets which,
    # so the total work is the same for every seed
    n_giant = max(1, round(n_docs * GIANT_SHARE))
    norm = statistics.NormalDist(0, EXTRACT_SIGMA)
    sizes = [int(EXTRACT_MEAN_CHARS * math.exp(norm.inv_cdf((j + 0.5) / n_docs)))
             for j in range(n_docs)]
    lo, hi = GIANT_FACTOR
    for j in range(n_giant):
        sizes[j] = EXTRACT_MEAN_CHARS * (lo + (hi - lo) * j // max(n_giant - 1, 1))
    rng.shuffle(sizes)
    for i in range(n_docs):
        doc_id = f"ej-{seed}-{i:06d}"
        tok = token(rng, "e", i)
        size = sizes[i]
        spans: list[tuple] = []
        media: list[str] = []
        n_bytes = 0

        def add(kind: str, text: str | None, ref: str | None) -> None:
            nonlocal n_bytes
            spans.append((kind, text, ref))
            if text:
                n_bytes += len(text)

        runs = rng.randint(1, 3)
        for r in range(runs):
            if r == 0:
                html = page_html(rng, tok, size // runs)
            else:
                html = "".join(
                    _filler_block(rng) for _ in range(max(1, size // runs // 250))
                )
            for piece in _split(rng, html, rng.randint(1, 3)):
                add("html", piece, None)
            if r < runs - 1 or rng.random() < 0.5:
                kind = rng.choice(["image", "video", "audio"])
                ref = f"urn:media:{seed}:{i}:{len(media)}"
                media.append(ref)
                add(kind, None, ref)
            if rng.random() < 0.5:
                add("text", f"Caption: {sentence(rng)}", None)
        rows.append({
            "doc_id": doc_id,
            "spans": [
                {"kind": k, "text": t, "media_ref": m, "offset": j}
                for j, (k, t, m) in enumerate(spans)
            ],
        })
        facts[doc_id] = {"token": tok, "n_bytes": n_bytes, "media_refs": media}
    return rows, facts


DOC_FILES = 4


def write_docs(rows: list[dict], out_dir: str) -> None:
    """Write rows as a parquet directory of ``DOC_FILES`` files in the
    input schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct([
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), nullable=False),
    ])
    schema = pa.schema([
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(span), nullable=False),
    ])
    os.makedirs(out_dir, exist_ok=True)
    per = math.ceil(len(rows) / DOC_FILES)
    for f in range(DOC_FILES):
        part = rows[f * per:(f + 1) * per]
        if part:
            pq.write_table(pa.Table.from_pylist(part, schema),
                           os.path.join(out_dir, f"part-{f:03d}.parquet"))


# -------------------------------------------------- crawl_curate

CRAWL_DATE = "2026-01-01T00:00:00Z"
BOILERPLATE = "Subscribe to our newsletter for weekly updates from the editors."
# response make-up: kind -> count per round.  Every count is chosen, not
# measured from a crawl; README.md says which kinds the workload must
# hold and why each count is what it is.
CRAWL_MIX = {
    "html": 48,
    "html_chunked": 8,
    "html_gzip": 8,
    "html_chunked_gzip": 4,
    "html_cp1252": 6,
    "html_sjis": 6,
    "pdf": 6,
    "rss": 3,
    "atom": 3,
    "redirect": 8,
}
EXACT_FAMILIES = (4, 4)     # families x members (identical bodies)
NEAR_FAMILIES = (4, 3)      # families x members (2% of words changed)
CRAWL_ARCHIVES = 4
CP1252_MARK = "café€"      # é and € (0x80 in windows-1252)
SJIS_MARK = "日本語"     # 日本語


def _crawl_page(rng: random.Random, tok: str, charset_meta: str = "utf-8") -> tuple[str, bool]:
    """A crawled page; half carry the shared boilerplate line.  Returns
    ``(html, has_boilerplate)``."""
    paras = "".join(f"<p>{s}</p>" for s in _body_text(rng).split("\n"))
    boiler = rng.random() < 0.5
    html = (
        f'<!DOCTYPE html><html><head><meta charset="{charset_meta}">'
        f"<title>{sentence(rng)}</title></head><body>"
        '<nav><a href="/">home</a> <a href="/news">news</a></nav>'
        f"<article><h1>{sentence(rng)}</h1><p>{sentence(rng)} The {tok} "
        f"record {sentence(rng)}</p>{paras}"
        + (f"<p>{BOILERPLATE}</p>" if boiler else "")
        + "</article></body></html>"
    )
    return html, boiler


def _body_text(rng: random.Random) -> str:
    return "\n".join(prose(rng, rng.randint(200, 500)) for _ in range(rng.randint(3, 6)))


def _chunked(rng: random.Random, data: bytes) -> bytes:
    out = bytearray()
    pos = 0
    while pos < len(data):
        n = rng.randint(64, 2048)
        chunk = data[pos:pos + n]
        out += b"%x\r\n" % len(chunk) + chunk + b"\r\n"
        pos += n
    return bytes(out + b"0\r\n\r\n")


def _pdf(rng: random.Random, tok: str) -> bytes:
    lines = [f"Quarterly report {tok} summary"] + [
        sentence(rng) for _ in range(rng.randint(4, 10))
    ]
    ops = [b"BT /F1 20 Tf 72 720 Td (%s) Tj ET" % sentence(rng).encode()]
    y = 690
    for ln in lines:
        ops.append(b"BT /F1 10 Tf 72 %d Td (%s) Tj ET" % (y, ln.encode()))
        y -= 14
    content = b"\n".join(ops)
    flate = rng.random() < 0.5
    data = zlib.compress(content) if flate else content
    filt = b"/Filter /FlateDecode " if flate else b""
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: b"<< %s/Length %d >> stream\n" % (filt, len(data)) + data
        + b"\nendstream",
    }
    out = [b"%PDF-1.5\n"]
    for num in sorted(objs):
        out.append(b"%d 0 obj " % num + objs[num] + b" endobj\n")
    out.append(b"trailer << /Root 1 0 R >>\n%%EOF")
    return b"".join(out)


def _feed(rng: random.Random, tok: str, atom: bool) -> bytes:
    items = []
    for k in range(rng.randint(2, 5)):
        text = prose(rng, 200)
        if k == 0:
            text = f"The {tok} record. " + text
        esc = f"&lt;p&gt;{text}&lt;/p&gt;"
        if atom:
            items.append(f"<entry><title>{sentence(rng)}</title>"
                         f'<content type="html">{esc}</content></entry>')
        else:
            items.append(f"<item><title>{sentence(rng)}</title>"
                         f"<description>{esc}</description></item>")
    if atom:
        xml = ('<?xml version="1.0" encoding="utf-8"?>'
               '<feed xmlns="http://www.w3.org/2005/Atom"><title>News</title>'
               + "".join(items) + "</feed>")
    else:
        xml = ('<?xml version="1.0" encoding="utf-8"?><rss version="2.0">'
               "<channel><title>News</title>" + "".join(items)
               + "</channel></rss>")
    return xml.encode("utf-8")


def _warc(wtype: str, url: str, ctype: str, payload: bytes, rid: str) -> bytes:
    head = (
        f"WARC/1.0\r\nWARC-Type: {wtype}\r\nWARC-Target-URI: {url}\r\n"
        f"WARC-Date: {CRAWL_DATE}\r\nWARC-Record-ID: <urn:uuid:{rid}>\r\n"
        f"Content-Type: {ctype}\r\nContent-Length: {len(payload)}\r\n\r\n"
    ).encode("ascii")
    return head + payload + b"\r\n\r\n"


def crawl_archives(seed: int, scale: float = 1.0) -> tuple[list[bytes], dict]:
    """``.warc.gz`` archives with Common Crawl's record layout (one gzip
    member per record; request, response and metadata record per
    fetch).  Unlike Common Crawl's archives, which hold no coded
    bodies, a share of the bodies here is chunked and/or gzip-coded,
    as a crawler that keeps the wire bytes writes them.
    ``scale`` shrinks every count of the mix (at least one of each).

    Returns ``(archives, facts)`` where ``facts["responses"][url]``
    holds ``kind``, the planted ``token`` (``None`` for redirects),
    ``status``/``location`` for redirects and ``family`` for the
    planted duplicate families; ``facts["exact"]`` and
    ``facts["near"]`` list each family's urls."""
    rng = random.Random(f"crawl_curate:{seed}")
    host = f"site{seed % 997}.example"
    fetches: list[tuple[str, bytes, dict]] = []   # url, http payload, fact
    responses: dict[str, dict] = {}
    exact_fams: list[list[str]] = []
    near_fams: list[list[str]] = []
    n = 0

    def http(status: str, headers: list[str], body: bytes) -> bytes:
        return (f"HTTP/1.1 {status}\r\n" + "".join(h + "\r\n" for h in headers)
                + "\r\n").encode("ascii") + body

    def add(url: str, payload: bytes, fact: dict) -> None:
        fetches.append((url, payload, fact))
        responses[url] = fact

    kinds = [k for k, c in CRAWL_MIX.items()
             for _ in range(max(1, round(c * scale)))]
    rng.shuffle(kinds)
    for kind in kinds:
        n += 1
        url = f"https://{host}/p/{n:05d}.html"
        tok = token(rng, "c", n)
        fact = {"kind": kind, "token": tok, "family": None, "boilerplate": False}
        if kind == "redirect":
            status = rng.choice(["301 Moved Permanently", "302 Found",
                                 "308 Permanent Redirect"])
            loc = f"https://{host}/moved/{n}?r={rng.getrandbits(32):08x}"
            fact.update(token=None, status=status[:3], location=loc)
            add(url, http(status, [f"Location: {loc}", "Content-Length: 0"], b""), fact)
        elif kind == "pdf":
            add(url, http("200 OK", ["Content-Type: application/pdf"], _pdf(rng, tok)), fact)
        elif kind in ("rss", "atom"):
            ctype = "application/atom+xml" if kind == "atom" else "application/rss+xml"
            add(url, http("200 OK", [f"Content-Type: {ctype}"],
                          _feed(rng, tok, kind == "atom")), fact)
        elif kind == "html_cp1252":
            tok = f"{tok}{CP1252_MARK}"
            fact["token"] = tok
            page, fact["boilerplate"] = _crawl_page(rng, tok, "windows-1252")
            body = page.encode("cp1252")
            add(url, http("200 OK", ["Content-Type: text/html; charset=windows-1252"], body), fact)
        elif kind == "html_sjis":
            tok = f"{tok}{SJIS_MARK}"
            fact["token"] = tok
            page, fact["boilerplate"] = _crawl_page(rng, tok, "Shift_JIS")
            body = page.encode("shift_jis")
            add(url, http("200 OK", ["Content-Type: text/html"], body), fact)
        else:
            page, fact["boilerplate"] = _crawl_page(rng, tok)
            body = page.encode("utf-8")
            headers = ["Content-Type: text/html; charset=utf-8"]
            if "gzip" in kind:
                body = gzip.compress(body, mtime=0)
                headers.append("Content-Encoding: gzip")
            if "chunked" in kind:
                body = _chunked(rng, body)
                headers.append("Transfer-Encoding: chunked")
            add(url, http("200 OK", headers, body), fact)

    def family(members: int, label: str, near: bool) -> list[str]:
        nonlocal n
        tok = token(rng, "f", n + 1)
        base = _body_text(rng)
        title = sentence(rng)
        urls = []
        for m in range(members):
            n += 1
            url = f"https://{host}/d/{n:05d}.html"
            text = base
            if near and m:
                words = base.split(" ")
                for _ in range(max(1, len(words) // 50)):
                    k = rng.randrange(len(words))
                    words[k] = rng.choice(_NOUN)
                text = " ".join(words)
            page = (
                f'<!DOCTYPE html><html><head><meta charset="utf-8"><title>{title}'
                f"</title></head><body><article><h1>{title}</h1><p>The {tok} "
                "record.</p>" + "".join(f"<p>{s}</p>" for s in text.split("\n"))
                + f"<p>{BOILERPLATE}</p></article></body></html>"
            )
            add(url, http("200 OK", ["Content-Type: text/html; charset=utf-8"],
                          page.encode("utf-8")),
                {"kind": "html", "token": tok, "family": label,
                 "boilerplate": True})
            urls.append(url)
        return urls

    for f in range(max(1, round(EXACT_FAMILIES[0] * scale))):
        exact_fams.append(family(EXACT_FAMILIES[1], f"exact{f}", near=False))
    for f in range(max(1, round(NEAR_FAMILIES[0] * scale))):
        near_fams.append(family(NEAR_FAMILIES[1], f"near{f}", near=True))

    rng.shuffle(fetches)
    archives: list[bytearray] = [bytearray() for _ in range(CRAWL_ARCHIVES)]
    for k, (url, payload, _) in enumerate(fetches):
        rid = f"{seed:08x}-0000-4000-8000-{k:012x}"
        path = url.split("/", 3)[3]
        req = (f"GET /{path} HTTP/1.1\r\nHost: {host}\r\n"
               "User-Agent: bench-crawler\r\n\r\n").encode("ascii")
        meta = f"fetchTimeMs: {rng.randint(20, 900)}\r\n".encode("ascii")
        recs = [
            _warc("request", url, "application/http; msgtype=request", req, rid + "a"),
            _warc("response", url, "application/http; msgtype=response", payload, rid + "b"),
            _warc("metadata", url, "application/warc-fields", meta, rid + "c"),
        ]
        out = archives[k % CRAWL_ARCHIVES]
        for r in recs:
            out += gzip.compress(r, mtime=0)
    facts = {"responses": responses, "exact": exact_fams, "near": near_fams}
    return [bytes(a) for a in archives], facts


def write_archives(archives: list[bytes], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for k, blob in enumerate(archives):
        with open(os.path.join(out_dir, f"crawl-{k:03d}.warc.gz"), "wb") as f:
            f.write(blob)
