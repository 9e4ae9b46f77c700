"""Seeded, cached inputs for the benchmark workloads.

Every input is a pure function of (workload, seed, size).  Generation
runs in plain Python (no Spark) and is never timed.  Each input lives
in its own directory under ``.perfbench/inputs`` with a manifest that
records the generator fingerprint, the SHA-256 of every file and the
input's properties; a cached input is reused only when all of these
still match, so a stale or damaged cache is regenerated instead.

Workloads (sizes in SIZES):

* clean_lazy -- ``kg.fixtures.page_record`` pages, noise 0: the repo's
  own fixture (555-byte pages, 68-word filler).
* web_lazy -- the same fixture sentences and gold triples, rendered
  into tens-of-KB web-shaped pages: most start with ``<!DOCTYPE html>``,
  carry scripts, styles and navigation boilerplate, and add filler
  paragraphs whose words are drawn Zipf-style from a vocabulary of
  120,000 pseudo-words.
* dedup (probed on web_lazy's traced run) -- documents of Zipf
  pseudo-words; a seeded share are edited copies of earlier documents
  and one template is repeated many times, which makes one hot
  (band, bucket).  The expected near-dup pairs come from a plain-Python
  MinHash-LSH (``dedup_reference``).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil
import time
from decimal import ROUND_HALF_UP, Decimal
from html import escape
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import xxh64

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"
INPUTS = WORK / "inputs"

WORKLOADS = ("clean_lazy", "web_lazy")

# pages per input (docs for the dedup input, which web_lazy's traced
# run probes); the self-test passes tiny sizes
SIZES = {"clean_lazy": 10000, "web_lazy": 1000, "dedup": 20000}

PART_FILES = 16  # many part files, as a crawl writer leaves them
KEEP_PER_WORKLOAD = 8  # cached inputs kept per workload (least recent go)
PROPERTY_SAMPLE = 2000  # pages the fast-path share is measured on

VOCAB_SIZE = 120_000
VOCAB_SEED = 20240301  # the vocabulary is fixed; only sampling is seeded
ZIPF_S = 1.1
DOCTYPE_SHARE = 0.9

# MinHash-LSH parameters: kg.dedup.minhash_lsh_pairs defaults
MH_N, MH_K, MH_BANDS, MH_THRESHOLD, MH_SEED = 3, 32, 8, 0.2, 42
NEAR_DUP_SHARE = 0.1
HOT_COPIES = 150

_PY_SENT_SPLIT = re.compile(r"(?<=[.!?])[ \t\n\x0B\f\r]+|\n+")
_WS = re.compile(r"[ \t\n\x0B\f\r]+")


def _fingerprint() -> str:
    """Changes whenever any code that shapes the inputs changes."""
    h = hashlib.sha256()
    for p in (
        Path(__file__),
        Path(xxh64.__file__),
        ROOT / "kg" / "fixtures.py",
        ROOT / "kg" / "ner" / "vocab.py",
        ROOT / "kg" / "dedup.py",
    ):
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _sha256(path: Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


# ------------------------------------------------------------ vocabulary


def pseudo_vocab() -> list[str]:
    """VOCAB_SIZE lowercase pseudo-words, ordered by Zipf rank.

    Words that collide with the fixture's own vocabulary, or that the
    NER scorer would tag as anything but O, are rejected, so filler
    never adds entity spans and the gold triples stay exact."""
    from kg.ner import vocab as V
    from kg.ner.model import _Model

    reserved = {w.lower() for w in V.FILLER_WORDS + V.TEMPLATE_WORDS}
    for e in V.entity_registry():
        reserved.update(w.lower() for w in e["surface"].split())
    rng = random.Random(VOCAB_SEED)
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words: list[str] = []
    seen: set[str] = set()
    model = _Model()  # private instance: leaves the process memo alone
    while len(words) < VOCAB_SIZE:
        batch = []
        while len(batch) < 4096:
            w = "".join(
                rng.choice(cons) + rng.choice(vows)
                + (rng.choice(cons) if rng.random() < 0.3 else "")
                for _ in range(rng.randint(2, 4))
            )
            if w not in seen and w not in reserved:
                seen.add(w)
                batch.append(w)
        tags = model.tags_of([batch])[0]
        words += [w for w, t in zip(batch, tags) if t == "O"]
    return words[:VOCAB_SIZE]


def vocab() -> list[str]:
    """pseudo_vocab(), cached on disk beside the inputs (checksummed)."""
    path = INPUTS / f"vocab-{_fingerprint()}.txt"
    digest = path.with_suffix(".sha256")
    if path.is_file() and digest.is_file() and _sha256(path) == digest.read_text():
        return path.read_text().split("\n")
    words = pseudo_vocab()
    INPUTS.mkdir(parents=True, exist_ok=True)
    for old in INPUTS.glob("vocab-*"):
        old.unlink()
    tmp = path.with_suffix(f".tmp{os.getpid()}")
    tmp.write_text("\n".join(words))
    os.replace(tmp, path)
    digest.write_text(_sha256(path))
    return words


class Zipf:
    """Seeded Zipf(s) sampler over a ranked vocabulary."""

    def __init__(self, vocab: list[str], seed: int):
        self.vocab = vocab
        w = 1.0 / np.arange(1, len(vocab) + 1) ** ZIPF_S
        self.cdf = np.cumsum(w / w.sum())
        self.rng = np.random.default_rng(seed)
        self.buf: list[str] = []
        self.pos = 0

    def words(self, n: int) -> list[str]:
        if self.pos + n > len(self.buf):  # draw in blocks: per-call numpy is slow
            idx = np.searchsorted(self.cdf, self.rng.random(max(n, 1 << 16)), side="right")
            idx = np.minimum(idx, len(self.vocab) - 1).tolist()
            self.buf = self.buf[self.pos:] + [self.vocab[i] for i in idx]
            self.pos = 0
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out


# ----------------------------------------------------------- page inputs


def _pages_table(urls, ts, htmls, langs) -> pa.Table:
    return pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array(htmls, pa.binary()),
            "lang": pa.array(langs, pa.string()),
        }
    )


def _gold_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[], [], [], [], []]
    return pa.table(
        {
            "subj": pa.array(cols[0], pa.int64()),
            "pred": pa.array(cols[1], pa.string()),
            "obj": pa.array(cols[2], pa.int64()),
            "url": pa.array(cols[3], pa.string()),
            "sent_id": pa.array(cols[4], pa.int32()),
        }
    )


def _write_parts(table: pa.Table, out: Path, stem: str) -> None:
    out.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    step = max(1, -(-n // PART_FILES))
    for k, start in enumerate(range(0, n, step)):
        pq.write_table(table.slice(start, step), out / f"{stem}-{k:05d}.parquet")


def _text_props(texts: list[str], htmls: list[bytes]) -> dict:
    from kg.extract import extract_text_fast

    types: set[str] = set()
    for t in texts:
        types.update(_WS.split(t))
    types.discard("")
    sample = htmls[:: max(1, len(htmls) // PROPERTY_SAMPLE)]
    fast = sum(extract_text_fast(h) is not None for h in sample)
    total = sum(len(h) for h in htmls)
    return {
        "pages": len(htmls),
        "html_mb": total / 1e6,
        "mean_page_bytes": total / max(1, len(htmls)),
        "word_types": len(types),
        "fast_path_share": fast / max(1, len(sample)),
    }


def gen_fixture_pages(seed: int, n: int, out: Path) -> dict:
    """The repo fixture (kg.fixtures.gen_pages maps page_record over ids)."""
    from kg.fixtures import page_record

    recs = [page_record(i, seed, 0.0) for i in range(n)]
    gold = [
        (t["subj_entity"], t["pred"], t["obj_entity"], t["url"], t["sent_id"])
        for r in recs
        for t in r["gold_triples"]
    ]
    _write_parts(
        _pages_table(
            [r["url"] for r in recs],
            [r["warc_ts"] for r in recs],
            [r["html"] for r in recs],
            [r["lang"] for r in recs],
        ),
        out / "pages",
        "part",
    )
    pq.write_table(_gold_table(gold), out / "gold.parquet")
    props = _text_props([r["text"] for r in recs], [r["html"] for r in recs])
    props["gold_triples"] = len(gold)
    return props


def _js(z: Zipf, rng: random.Random, n_funcs: int) -> str:
    out = []
    for _ in range(n_funcs):
        a, b, c = z.words(3)
        out.append(
            f"function {a}_{b}(x, y) {{ if (x < y && y > 0) {{ return "
            f"window.{c} || x; }} var cfg = {{\"{a}\": {rng.randint(0, 9999)}, "
            f"\"{b}\": \"{c}\"}}; return cfg; }}\n"
        )
    return "".join(out)


def _css(z: Zipf, rng: random.Random, n_rules: int) -> str:
    return "".join(
        f".{w}-{rng.randint(0, 99)} {{ margin: {rng.randint(0, 9)}px; "
        f"color: #{rng.randint(0, 0xFFFFFF):06x}; }}\n"
        for w in z.words(n_rules)
    )


def _filler_paragraph(z: Zipf, rng: random.Random) -> str:
    sents = []
    for _ in range(rng.randint(1, 4)):
        sents.append(" ".join(z.words(rng.randint(6, 20))) + " .")
    return " ".join(sents)


def web_page(rec: dict, z: Zipf, rng: random.Random) -> tuple[bytes, str, dict]:
    """Render one fixture page as a web page.

    Returns (html, expected text, fixture sent_id -> web sent_id)."""
    lines = rec["text"].split("\n")
    title, sentences = lines[0], lines[2:-1]
    nav = [" ".join(z.words(rng.randint(1, 3))) for _ in range(rng.randint(15, 40))]
    foot = [" ".join(z.words(rng.randint(1, 3))) for _ in range(rng.randint(8, 20))]
    blocks: list[str] = [title] + nav + [title]
    pieces = len(blocks)  # title and nav labels hold no sentence boundary
    body: list[str] = []
    sid_map: dict[int, int] = {}
    for s, sent in enumerate(sentences):
        for _ in range(rng.randint(0, 3)):
            p = _filler_paragraph(z, rng)
            blocks.append(p)
            pieces += len(_PY_SENT_SPLIT.split(p))
            body.append(f"<p>{escape(p)}</p>\n")
        sid_map[s + 2] = pieces
        blocks.append(sent)
        pieces += 1
        body.append(f"<p>{escape(sent)}</p>\n")
    blocks += ["crawl footer"] + foot
    li = lambda items: "".join(
        f'<li><a href="/{escape(t.replace(" ", "-"))}">{escape(t)}</a></li>\n'
        for t in items
    )
    html = (
        ("<!DOCTYPE html>\n" if rng.random() < DOCTYPE_SHARE else "")
        + '<html lang="en">\n<head>\n<meta charset="utf-8">\n'
        '<meta name="viewport" content="width=device-width, initial-scale=1">\n'
        f"<title>{escape(title)}</title>\n"
        f"<style>\n{_css(z, rng, rng.randint(20, 60))}</style>\n"
        f"<script>\n{_js(z, rng, rng.randint(40, 120))}</script>\n"
        "</head>\n<body>\n<header><nav><ul>\n"
        f"{li(nav)}</ul></nav></header>\n<main>\n<h1>{escape(title)}</h1>\n"
        f"<article>\n{''.join(body)}</article>\n</main>\n<footer>\n"
        f'<div class="footer">crawl footer</div>\n<ul>\n{li(foot)}</ul>\n'
        f"<script>\n{_js(z, rng, rng.randint(10, 40))}</script>\n"
        "</footer>\n</body>\n</html>\n"
    )
    return html.encode("utf-8"), "\n".join(blocks), sid_map


def gen_web_pages(seed: int, n: int, out: Path) -> dict:
    from kg.extract import extract_text
    from kg.fixtures import page_record

    z = Zipf(vocab(), seed)
    rng = random.Random(seed ^ 0x5EB)
    urls, ts, htmls, langs, texts, gold = [], [], [], [], [], []
    for i in range(n):
        rec = page_record(i, seed, 0.0)
        html, text, sid_map = web_page(rec, z, rng)
        urls.append(rec["url"])
        ts.append(rec["warc_ts"])
        langs.append(rec["lang"])
        htmls.append(html)
        texts.append(text)
        gold += [
            (t["subj_entity"], t["pred"], t["obj_entity"], t["url"], sid_map[t["sent_id"]])
            for t in rec["gold_triples"]
        ]
    # the gold sent_ids rest on the expected text: hold it to the spec
    for i in random.Random(seed).sample(range(n), min(n, 20)):
        if extract_text(htmls[i]) != texts[i]:
            raise RuntimeError(f"web page {i}: spec extraction != expected text")
    _write_parts(_pages_table(urls, ts, htmls, langs), out / "pages", "part")
    pq.write_table(_gold_table(gold), out / "gold.parquet")
    props = _text_props(texts, htmls)
    props["gold_triples"] = len(gold)
    return props


# ----------------------------------------------------------- dedup input


def dedup_docs(seed: int, n: int) -> tuple[list[str], int]:
    """n texts: base docs, edited near-dup copies and a hot template.
    Returns (texts, number of copies)."""
    z = Zipf(vocab(), seed)
    rng = random.Random(seed ^ 0xDED)
    n_hot = min(HOT_COPIES, n // 10)
    n_near = int(n * NEAR_DUP_SHARE)
    template = z.words(60)
    texts: list[str] = []
    for _ in range(n - n_near - n_hot):
        texts.append(" ".join(z.words(rng.randint(40, 100))))
    for _ in range(n_near):
        words = texts[rng.randrange(len(texts))].split(" ")
        for _ in range(max(1, len(words) // rng.randint(8, 30))):
            op, pos = rng.random(), rng.randrange(len(words))
            if op < 0.4:
                words[pos] = z.words(1)[0]
            elif op < 0.7 and len(words) > 3:
                del words[pos]
            else:
                words.insert(pos, z.words(1)[0])
        texts.append(" ".join(words))
    for _ in range(n_hot):
        texts.append(" ".join(template + z.words(2)))
    order = list(range(n))
    rng.shuffle(order)
    return [texts[i] for i in order], n_near + n_hot


def _round4(x: float) -> float:
    """Spark round(x, 4): HALF_UP on the decimal form of the double."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def shingle_hashes(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """kg.dedup.with_shingle_hashes in plain Python over all docs:
    (flat shingle hashes, per-doc start offsets; len(texts)+1 of them).
    Docs with fewer than MH_N tokens get no shingles."""
    from kg.dedup import MERSENNE_P

    tok_id: dict[str, int] = {}
    ids: list[int] = []
    starts = [0]
    for text in texts:
        toks = [t for t in _WS.split(text) if t]
        ids += [tok_id.setdefault(t, len(tok_id)) for t in toks]
        starts.append(len(ids))
    tok_hash = np.array(
        [xxh64.signed(xxh64.hash_bytes(t.encode("utf-8"), xxh64.SEED)) for t in tok_id],
        dtype=np.int64,
    ).view(np.uint64)
    th = tok_hash[np.array(ids, dtype=np.int64)]
    m = max(0, len(th) - MH_N + 1)
    h = np.full(m, xxh64.SEED, dtype=np.uint64)
    for j in range(MH_N):
        h = xxh64.hash_long_np(th[j : j + m], h)
    h = np.mod(h.view(np.int64), np.int64(MERSENNE_P))
    # keep shingles that start and end inside one doc
    keep = [np.arange(s, e - MH_N + 1) for s, e in zip(starts, starts[1:])]
    offs = np.cumsum([0] + [len(k) for k in keep])
    return h[np.concatenate(keep)] if m else np.empty(0, np.int64), offs


def dedup_reference(texts: list[str]) -> tuple[list[tuple[int, int, float]], int]:
    """Plain-Python minhash_lsh_pairs: (doc_a, doc_b, jaccard) rows and
    the largest (band, bucket) doc count."""
    from kg.dedup import MERSENNE_P, _permutation_params

    params = _permutation_params(MH_K, MH_SEED)
    a = np.array([p[1] for p in params], dtype=np.int64)[:, None]
    b = np.array([p[2] for p in params], dtype=np.int64)[:, None]
    rpb = MH_K // MH_BANDS
    hs, offs = shingle_hashes(texts)
    docs = [d for d in range(len(texts)) if offs[d + 1] > offs[d]]
    buckets: dict[tuple[int, str], list[int]] = {}
    for c in range(0, len(docs), 1024):
        chunk = docs[c : c + 1024]
        lo, hi = offs[chunk[0]], offs[chunk[-1] + 1]
        perm = (a * hs[None, lo:hi] + b) % MERSENNE_P
        sigs = np.minimum.reduceat(perm, [offs[d] - lo for d in chunk], axis=1)
        for col, doc_id in enumerate(chunk):
            sig = sigs[:, col].tolist()
            for band in range(MH_BANDS):
                key = ",".join(map(str, sig[band * rpb : (band + 1) * rpb]))
                buckets.setdefault((band, key), []).append(doc_id)
    cands = {
        (x, y) for ds in buckets.values() if len(ds) > 1
        for x in ds for y in ds if x < y
    }
    shset = lambda d: set(hs[offs[d] : offs[d + 1]].tolist())
    sets = {d: shset(d) for pair in cands for d in pair}
    rows = []
    for da, db in cands:
        sa, sb = sets[da], sets[db]
        common = len(sa & sb)
        jac = _round4(common / (len(sa) + len(sb) - common))
        if jac >= MH_THRESHOLD:
            rows.append((da, db, jac))
    return sorted(rows), max(len(ds) for ds in buckets.values())


def gen_dedup(seed: int, n: int, out: Path) -> dict:
    texts, n_copies = dedup_docs(seed, n)
    pairs, max_bucket = dedup_reference(texts)
    docs = pa.table(
        {"doc_id": pa.array(range(n), pa.int64()), "text": pa.array(texts, pa.string())}
    )
    _write_parts(docs, out / "docs", "part")
    cols = list(zip(*pairs)) if pairs else [[], [], []]
    pq.write_table(
        pa.table(
            {
                "doc_a": pa.array(cols[0], pa.int64()),
                "doc_b": pa.array(cols[1], pa.int64()),
                "jaccard": pa.array(cols[2], pa.float64()),
            }
        ),
        out / "expected_pairs.parquet",
    )
    types: set[str] = set()
    for t in texts:
        types.update(t.split(" "))
    total = sum(len(t.encode("utf-8")) for t in texts)
    return {
        "pages": n,
        "html_mb": total / 1e6,
        "mean_page_bytes": total / max(1, n),
        "word_types": len(types),
        "fast_path_share": 0.0,
        "near_dup_share": n_copies / max(1, n),
        "max_bucket_docs": max_bucket,
        "expected_pairs": len(pairs),
    }


GENERATORS = {
    "clean_lazy": gen_fixture_pages,
    "web_lazy": gen_web_pages,
    "dedup": gen_dedup,
}


# ------------------------------------------------------------------ cache


def _verify(d: Path, fp: str) -> dict | None:
    mf = d / "manifest.json"
    if not mf.is_file():
        return None
    try:
        man = json.loads(mf.read_text())
    except ValueError:
        return None
    if man.get("fingerprint") != fp:
        return None
    for rel, digest in man.get("files", {}).items():
        p = d / rel
        if not p.is_file() or _sha256(p) != digest:
            return None
    return man if man.get("files") else None


def _evict(workload: str, keep: Path) -> None:
    dirs = sorted(
        (p for p in INPUTS.glob(f"{workload}-*") if p.is_dir() and p != keep),
        key=lambda p: p.stat().st_mtime,
    )
    for p in dirs[: max(0, len(dirs) - (KEEP_PER_WORKLOAD - 1))]:
        shutil.rmtree(p, ignore_errors=True)


def ensure_input(workload: str, seed: int, n: int | None = None) -> tuple[Path, dict]:
    """Path and manifest of the verified input, generated if needed."""
    n = SIZES[workload] if n is None else n
    fp = _fingerprint()
    d = INPUTS / f"{workload}-n{n}-s{seed}"
    man = _verify(d, fp)
    if man is None:
        shutil.rmtree(d, ignore_errors=True)
        tmp = INPUTS / f".tmp-{workload}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        t0 = time.perf_counter()
        props = GENERATORS[workload](seed, n, tmp)
        files = {
            str(p.relative_to(tmp)): _sha256(p)
            for p in sorted(tmp.rglob("*"))
            if p.is_file()
        }
        man = {
            "workload": workload,
            "seed": seed,
            "n": n,
            "fingerprint": fp,
            "files": files,
            "properties": props,
            "generation_s": time.perf_counter() - t0,
        }
        (tmp / "manifest.json").write_text(json.dumps(man, indent=1))
        os.replace(tmp, d)
        _evict(workload, d)
    os.utime(d)
    return d, man
