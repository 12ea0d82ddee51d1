"""Seeded input generator for the KG benchmark.

Imports nothing from ``scikg_spark``: the parent commit and a change under
test must receive byte-identical inputs, so the inputs cannot depend on the
code being measured.

Two tables are written:

* ``pages(url, warc_ts, html, text, lang)`` — one ``<p>`` per annotated
  statement. A statement is a sequence of ``word:POS`` tokens and mention
  tokens ``$C:tok_tok:NN_NN`` / ``$A:adj:JJ`` / ``$P:verb:VBZ`` (fact
  predicate) / ``$P:in:IN`` (condition predicate).
* ``documents(doc_id, text, lang, source, n_chars)`` — plain token text with
  a planted share of near-duplicate documents, shaped like the repository's
  synthetic ``documents`` test tables (TESTDATA.md) at sf1.0 block size.

Each table draws from its own ``random.Random`` seeded by the run's seed, so
equal seeds give equal rows; :func:`digest` hashes the rows, not the parquet
bytes.
"""

from __future__ import annotations

import datetime
import hashlib
import random

import pyarrow as pa
import pyarrow.parquet as pq

# the 31-word vocabulary of the repository's synthetic documents tables: a
# narrow vocabulary repeats mention phrases, so linking sees ~1k distinct
# phrases however many pages
NARROW_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the dup").split()
_VERBS = ("improves", "reduces", "causes", "requires", "affects", "controls")
_PREPS = ("in", "under", "during", "within")
_ADJS = ("severe", "mild", "high", "low", "novel", "stable")
_FILLER_POS = ("NN", "NNS", "JJ", "DT")
_LANGS_OTHER = ("zh", "es", "de", "fr")
_EPOCH = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)

# pages: about 40% en, 1-5 statements each
PAGES_EN_SHARE = 0.4
STMTS_PER_PAGE = (1, 5)

# documents: the shape of the repository's synthetic documents tables
# (sf0.1: 41% en, the other four languages about 15% each, 10-100 words
# drawn uniformly, source = doc_id % 20). sf1.0 holds ten times the docs in
# the same 100 (lang, source) blocks, so an en block there has ~1,030 docs
# and another ~370. The dedup code is tuned at that block size: a bigram
# sits in ~5.6% of docs, so only blocks past ~1,150 docs hold grams over
# the hot-gram cap (64 docs). One source gives five blocks of the sf1.0
# size from 2,500 docs, a twentieth of sf1.0's volume.
DOCS_EN_SHARE = 0.41
DOC_WORDS = (10, 100)
N_SOURCES = 1
DUP_SHARE = 0.15
# the dedup queries' cap on docs per blocking key (dedup._MAX_BUCKET)
HOT_GRAM_DOCS = 64

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64())])


def _phrase(rng: random.Random, pick) -> list[str]:
    return [pick() for _ in range(rng.choice((1, 1, 2)))]


def statement(rng: random.Random, pick) -> list[str]:
    """One annotated statement: ``[A] C VB-P C [IN-P C]`` inside filler,
    sometimes with a second fact predicate so the decoder emits several
    tuples per head."""
    toks: list[str] = []

    def filler(k):
        for _ in range(k):
            toks.append(f"{pick()}:{rng.choice(_FILLER_POS)}")

    def concept():
        words = _phrase(rng, pick)
        toks.append("$C:%s:%s" % ("_".join(words), "_".join(["NN"] * len(words))))

    filler(rng.randint(0, 2))
    if rng.random() < 0.4:
        toks.append(f"$A:{rng.choice(_ADJS)}:JJ")
    concept()
    toks.append(f"$P:{rng.choice(_VERBS)}:VBZ")
    concept()
    if rng.random() < 0.25:
        filler(1)
        toks.append(f"$P:{rng.choice(_VERBS)}:VBZ")
        concept()
    if rng.random() < 0.6:
        filler(rng.randint(0, 1))
        toks.append(f"$P:{rng.choice(_PREPS)}:IN")
        if rng.random() < 0.3:
            toks.append(f"$A:{rng.choice(_ADJS)}:JJ")
        concept()
    filler(rng.randint(0, 3))
    return toks


def page(doc_id: int, lines: list[str], lang: str, rng: random.Random) -> dict:
    """A page whose extracted text is the title line plus one line per
    statement (the title does not parse as a statement and is skipped)."""
    title = f"Report {doc_id}"
    body = "".join(f"<p>{line}</p>" for line in lines)
    html = (f"<html><head><title>{title}</title><script>var n={doc_id};"
            f"</script></head><body>{body}</body></html>")
    return {
        "url": f"https://example.org/doc/{doc_id}",
        "warc_ts": _EPOCH + datetime.timedelta(seconds=rng.randrange(365 * 86400)),
        "html": html.encode("utf-8"),
        "text": "\n".join([title] + lines),
        "lang": lang,
    }


def make_pages(seed: int, n_docs: int) -> tuple[list[dict], dict]:
    """Pages and their traffic properties. Tokens come from the 31-word
    list, so mention phrases repeat across pages."""
    rng = random.Random(f"pages:{seed}")
    props = {"pages": n_docs, "vocab_words": len(NARROW_VOCAB)}

    def pick():
        return rng.choice(NARROW_VOCAB)

    rows, n_stmts, n_en, phrases = [], 0, 0, set()
    for doc_id in range(n_docs):
        lang = "en" if rng.random() < PAGES_EN_SHARE else rng.choice(_LANGS_OTHER)
        lines = []
        for _ in range(rng.randint(*STMTS_PER_PAGE)):
            toks = statement(rng, pick)
            lines.append(" ".join(toks))
            if lang == "en":
                phrases.update(t.split(":")[1] for t in toks if t.startswith("$C:"))
        n_en += lang == "en"
        n_stmts += len(lines) if lang == "en" else 0
        rows.append(page(doc_id, lines, lang, rng))
    props.update(en_pages=n_en, en_share=round(n_en / n_docs, 4),
                 en_statements=n_stmts,
                 distinct_mentions=len(phrases))
    return rows, props


def make_documents(seed: int, n_docs: int) -> tuple[list[dict], dict]:
    """Documents over the narrow vocabulary. The language mix is exact, so
    every seed gives the same block sizes; ``DUP_SHARE`` of the documents
    are near-copies (one or two token substitutions) of an earlier one in
    their (lang, source) block, so both dedup queries find them."""
    rng = random.Random(f"documents:{seed}")
    n_en = round(n_docs * DOCS_EN_SHARE)
    langs = ["en"] * n_en + [_LANGS_OTHER[i % len(_LANGS_OTHER)]
                             for i in range(n_docs - n_en)]
    rng.shuffle(langs)
    rows, planted, blocks = [], 0, {}
    for doc_id, lang in enumerate(langs):
        source = f"src{doc_id % N_SOURCES}"
        earlier = blocks.setdefault((lang, source), [])
        if earlier and rng.random() < DUP_SHARE:
            toks = rows[rng.choice(earlier)]["text"].split(" ")
            for _ in range(rng.randint(1, 2)):
                toks[rng.randrange(len(toks))] = rng.choice(NARROW_VOCAB)
            planted += 1
        else:
            toks = [rng.choice(NARROW_VOCAB)
                    for _ in range(rng.randint(*DOC_WORDS))]
        earlier.append(doc_id)
        text = " ".join(toks)
        rows.append({"doc_id": doc_id, "text": text, "lang": lang,
                     "source": source, "n_chars": len(text)})
    return rows, {"documents": n_docs,
                  "planted_dup_share": round(planted / n_docs, 4),
                  **block_traffic(rows)}


def block_traffic(rows: list[dict]) -> dict:
    """What the n-gram Jaccard query's pair generation sees: docs per
    (lang, source) block, the (block, bigram) groups, the groups over the
    hot-gram cap, and the doc pairs the capped groups generate."""
    grams: dict = {}
    sizes: dict = {}
    for r in rows:
        key = (r["lang"], r["source"])
        sizes[key] = sizes.get(key, 0) + 1
        toks = r["text"].split(" ")
        block = grams.setdefault(key, {})
        for g in set(zip(toks, toks[1:])):
            block[g] = block.get(g, 0) + 1
    counts = [n for block in grams.values() for n in block.values()]
    per_block = sorted(sizes.values())
    return {
        "blocks": len(per_block),
        "docs_per_block_max": per_block[-1],
        "docs_per_block_median": per_block[len(per_block) // 2],
        "bigram_groups": len(counts),
        "hot_grams": sum(n > HOT_GRAM_DOCS for n in counts),
        "capped_pair_instances": sum(n * (n - 1) // 2 for n in counts
                                     if n <= HOT_GRAM_DOCS),
    }


def digest(rows: list[dict]) -> str:
    """Content hash of the rows; timestamps hash as UTC ISO strings, so a
    parquet round trip keeps the digest."""
    h = hashlib.sha256()
    for r in rows:
        h.update(repr([(k, v.isoformat() if isinstance(v, datetime.datetime)
                        else v) for k, v in sorted(r.items())]).encode())
    return h.hexdigest()[:16]


def write_parquet(rows: list[dict], schema: pa.Schema, path: str) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
