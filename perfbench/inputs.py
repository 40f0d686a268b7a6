"""Benchmark inputs.

* ``write_curate_corpus`` — the mixed HTML+PDF curation input with
  injected duplicate families, near-copy chains and boilerplate-only
  pages, plus the known answers the run checks.  It is a pure function
  of ``seed``: the same seed writes the same rows.
* ``SF01_DIR`` — the shipped sf0.1 catalog tables, one parquet file
  each, one row group per file.  They are read, never written.
* ``write_split_copy`` — the same catalog rows rewritten with many
  row groups per file.
"""

from __future__ import annotations

import os
import random
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from clara_ocr_spark.sources.corpus import (
    EPOCH,
    PAGES_SCHEMA,
    _esc,
    _footer,
    _header,
    _paragraph,
    _sentence,
    gen_page,
)
from clara_ocr_spark.oracle import TABLES
from clara_ocr_spark.sources.pdfgen import gen_pdf_page

# --------------------------------------------------------------------
# curate_mixed

MIRROR_HOSTS = 8


def _article(rng: random.Random, host: str, lang: str, paras: list) -> bytes:
    """A plain article page (template 0 layout) around ``paras``."""
    body = "".join(f"<p>{_esc(p)}</p>" for p in paras)
    title = _esc(_sentence(rng, lang, 4))
    return (
        "<!DOCTYPE html><html><head><title>t</title></head><body>"
        f"{_header(rng, host)}<main><article><h2>{title}</h2>{body}"
        f"</article></main>{_footer(host)}</body></html>"
    ).encode("utf-8")


def _boilerplate(rng: random.Random, host: str) -> bytes:
    """Header, navigation and footer only: no content block."""
    return (
        "<!DOCTYPE html><html><head><title>t</title></head><body>"
        f"{_header(rng, host)}{_footer(host)}</body></html>"
    ).encode("utf-8")


def _row(url: str, i: int, raw: bytes, lang: str) -> dict:
    from clara_ocr_spark.extract_rules import reference_extract

    return {
        "url": url,
        "warc_ts": EPOCH + timedelta(seconds=i),
        "html": raw,
        "text": reference_extract(raw),
        "lang": lang,
    }


def curate_plan(n_base: int, seed: int) -> dict:
    """Sizes of the injected structures for a corpus of ``n_base``
    stock pages.  Family counts and chain lengths are drawn from the
    seed, so they vary between seeds and repeat for one seed."""
    rng = random.Random(seed * 7919 + 1)
    n_fam = max(4, n_base // 50)
    return {
        "n_html": n_base - n_base // 10,
        "n_pdf": n_base // 10,
        "family_sizes": [rng.randint(2, 6) for _ in range(n_fam)],
        "chain_lengths": [rng.randint(3, 8) for _ in range(max(2, n_base // 60))],
        "n_boiler": max(4, n_base // 40),
    }


def curate_rows(n_base: int, seed: int) -> tuple:
    """(rows, answers) for the curate_mixed input.

    answers:
      ``families``: list of url lists, each an exact-copy family (same
      html under different urls);
      ``chains``: list of url lists, each a near-copy chain where doc
      k+1 is doc k with one paragraph rewritten;
      ``boiler``: urls of boilerplate-only pages."""
    plan = curate_plan(n_base, seed)
    rows = [gen_page(i, seed) for i in range(plan["n_html"])]
    rows += [gen_pdf_page(i, seed) for i in range(plan["n_pdf"])]
    rng = random.Random(seed * 104729 + 3)
    i = n_base
    families, chains, boiler = [], [], []
    for f, size in enumerate(plan["family_sizes"]):
        lang = rng.choice(["en", "pt", "de"])
        raw = _article(
            rng, f"mirror{f % MIRROR_HOSTS}.example", lang,
            [_paragraph(rng, lang) for _ in range(rng.randint(4, 8))],
        )
        urls = [f"https://mirror{m % MIRROR_HOSTS}.example/fam/{f}/{m}"
                for m in range(size)]
        rows += [_row(u, i + k, raw, lang) for k, u in enumerate(urls)]
        i += size
        families.append(urls)
    for c, length in enumerate(plan["chain_lengths"]):
        lang = rng.choice(["en", "pt", "de"])
        host = f"chain{c % MIRROR_HOSTS}.example"
        paras = [_paragraph(rng, lang) for _ in range(12)]
        urls = []
        for k in range(length):
            if k:
                paras = list(paras)
                paras[rng.randrange(len(paras))] = _paragraph(rng, lang)
            url = f"https://{host}/chain/{c}/v{k}"
            rows.append(_row(url, i, _article(rng, host, lang, paras), lang))
            urls.append(url)
            i += 1
        chains.append(urls)
    for b in range(plan["n_boiler"]):
        host = f"host{rng.randint(1, 50):03d}.example"
        url = f"https://{host}/empty/{b}"
        rows.append(_row(url, i, _boilerplate(rng, host), "en"))
        boiler.append(url)
        i += 1
    # interleave the injected rows with the stock ones: no shard holds
    # only one kind
    random.Random(seed).shuffle(rows)
    return rows, {"families": families, "chains": chains, "boiler": boiler}


def write_curate_corpus(path: str, n_base: int, seed: int, shard: int = 256) -> dict:
    """Write the curate_mixed pages under ``path`` (parquet shards of
    ``shard`` docs) and return the known answers."""
    rows, answers = curate_rows(n_base, seed)
    os.makedirs(path, exist_ok=True)
    for s, lo in enumerate(range(0, len(rows), shard)):
        pq.write_table(
            pa.Table.from_pylist(rows[lo:lo + shard], schema=PAGES_SCHEMA),
            os.path.join(path, f"part-{s:05d}.parquet"),
        )
    answers["n_docs"] = len(rows)
    answers["n_pdf"] = sum(r["html"][:5] == b"%PDF-" for r in rows)
    return answers


# --------------------------------------------------------------------
# catalog tables

#: the sf0.1 tables as shipped with the repository's test data (seed
#: 42), copied byte for byte
SF01_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")


def write_split_copy(src: str, dst: str, row_groups: int) -> str:
    """Rewrite every table of ``src`` under ``dst`` with at least
    ``row_groups`` row groups per file (same rows, same order)."""
    os.makedirs(dst, exist_ok=True)
    for name in TABLES:
        table = pq.read_table(os.path.join(src, f"{name}.parquet"))
        size = max(1, table.num_rows // row_groups)
        pq.write_table(table, os.path.join(dst, f"{name}.parquet"),
                       row_group_size=size)
    return dst
