"""The benchmark's workloads: seeded inputs, the timed job, the check.

Every workload drives sparkstract only through its public API, with the
default `ExtractConfig()` and the default `get_spark` session. Inputs are
generated before timing starts, written as parquet with pyarrow and read
back inside the timed job through `sources.docs`.

Pages come from frozen pools: the family lists below and a fixed pool seed,
rendered once per checkout (the benchmark's build step) and cached. A run's
`--seed` deals the pool pages to doc ids and draws every text span, so
seeds differ in layout and text while the kernel gets the same pages to
decode and analyse. A new fixture family or a faster codec in the program
cannot silently change what a workload decodes.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Every page family the fixture generator had when the benchmark was
# defined (its PAGE_FAMILIES minus empty_page, which the corpus generator
# skips), in the generator's rotation order.
MIXED_FAMILIES = (
    "single_column", "two_column", "interleaved_order", "image_only",
    "grid_2x2", "paragraphs", "noise_page",
    "ruled_page", "table_page", "skewed_page", "rotated_page",
    "textured_photo", "gradient_page", "contents_page", "equation_page",
    "vertical_page", "disc_page", "tracked_page", "bowed_page",
    "broken_page", "margin_note", "bidi_page", "rotated_rtl",
    "inline_equation_page", "wavy_page", "ragged_page", "embedded_vertical",
    "sparse_texture", "para_page", "tiff_page", "tiff_multipage",
    "greek_page", "music_page", "pnm_page", "bmp_page", "jpeg_page",
    "cyrillic_page", "exif_tiff_page", "exif_jpeg_page", "pdf_page",
    "pdf_scanned_page", "pdf_two_column_page", "rgb_png_page",
    "gif_page", "progressive_jpeg_page", "pdf_modern_page",
    "pdf_cid_page", "pdf_searchable_page", "devanagari_page",
    "smudged_page", "fuzzy_space_page", "g4_tiff_page",
    "cjk_page", "cjk_vertical_page", "spanned_table_page",
    "pdf_rotated_page", "pdf_inline_image_page", "webp_page",
    "pdf_encrypted_page", "cmyk_jpeg_page", "pdf_ccitt_page",
    "tiled_tiff_page", "interlaced_png_page", "pdf_aes_page",
    "pdf_aes256_page", "webp_lossy_page", "webp_vp8x_page",
    "pdf_jbig2_page", "arabic_page", "arabic_bidi_page",
    "pdf_jpx_page", "jp2_page", "jpeg_tiff_page",
    "pdf_jbig2_arith_page", "pdf_jbig2_text_page", "webp_anim_page",
    "jp2_bypass_page", "korean_page", "webp_alpha_page",
    "pdf_jbig2_huff_page", "thai_page", "pdf_stencil_page",
    "pdf_jbig2_halftone_page", "ico_page",
)

# The small pool of cheap pages the text-heavy resumable_curate docs share.
POOL_FAMILIES = ("single_column", "paragraphs", "two_column", "table_page")

# fixture-generator seed of every page pool
POOL_SEED = 1009

_WORDS = (
    "the and of to is a in it or an "
    "data page table scan layout column text block line word order span "
    "image media codec decode stream index shard bucket group commit job "
    "spark worker task stage shuffle window batch arrow frame vector value "
    "record field header footer caption figure chapter section archive "
    "corpus crawl document reader writer parser filter merge split sort "
    "north south river valley harbor market winter summer garden bridge"
).split()
_FOREIGN = {
    "de": "der die und ist das ein nicht mit auf dem".split(),
    "fr": "le la et les des une dans pour avec sur".split(),
    "es": "el los las una del por con para como pero".split(),
}

DOCS_ARROW = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32())]))),
])
MEDIA_ARROW = pa.schema([
    ("media_ref", pa.string()), ("width", pa.int32()),
    ("height", pa.int32()), ("image", pa.binary()),
])

# files per input table, so the scan is split like a Spark-written table
_FILES = 4


def _write(df: pd.DataFrame, schema: pa.Schema, path: str) -> None:
    os.makedirs(path)
    bounds = np.linspace(0, len(df), _FILES + 1).astype(int)
    for i in range(_FILES):
        part = df.iloc[bounds[i]:bounds[i + 1]]
        pq.write_table(pa.Table.from_pandas(part, schema, preserve_index=False),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _seqs(df: pd.DataFrame) -> dict:
    df = df.fillna({"text": "", "media_ref": ""})
    return {d: list(zip(g["kind"], g["text"], g["media_ref"], g["order"]))
            for d, g in df.sort_values(["doc_id", "order"]).groupby("doc_id")}


def _seq_mismatches(got: pd.DataFrame, want: pd.DataFrame) -> set:
    """Doc ids whose (kind, text, media_ref, order) span sequence differs
    from truth, or that only one side has."""
    gs, ws = _seqs(got), _seqs(want)
    return {d for d in set(gs) | set(ws) if gs.get(d) != ws.get(d)}


def _read_dir(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _write_corpus(path: str, docs: pd.DataFrame, media: pd.DataFrame,
                  truth: pd.DataFrame) -> None:
    _write(docs, DOCS_ARROW, os.path.join(path, "docs"))
    _write(media, MEDIA_ARROW, os.path.join(path, "media"))
    truth.to_parquet(os.path.join(path, "truth.parquet"), index=False)


def _pool(cache: str, name: str, **corpus_args) -> tuple:
    """(docs, media, truth) of `generate_corpus(seed=POOL_SEED, ...)`,
    rendered on first use and cached under `cache`."""
    path = os.path.join(cache, name)
    if not os.path.isdir(path):
        from sparkstract.fixtures.gen import generate_corpus

        fs = generate_corpus(seed=POOL_SEED, **corpus_args)
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        _write_corpus(tmp, fs.docs, fs.media, fs.truth)
        os.rename(tmp, path)
    return (_read_dir(os.path.join(path, "docs")),
            _read_dir(os.path.join(path, "media")),
            pd.read_parquet(os.path.join(path, "truth.parquet")))


def _passage(rng: np.random.Generator, words, lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi))
    return " ".join(words[int(i)] for i in rng.integers(0, len(words), n))


class Extraction:
    """`extract()` over a docs ⨝ media corpus, spans written as parquet."""

    def __init__(self, name: str, n_docs: int):
        self.name = name
        self.n_docs = n_docs

    def input_bytes(self, path: str) -> int:
        return (_dir_bytes(os.path.join(path, "docs"))
                + _dir_bytes(os.path.join(path, "media")))

    def _frames(self, spark, path: str):
        from sparkstract.sources.docs import read_docs, read_media

        return (read_docs(spark, os.path.join(path, "docs")),
                read_media(spark, os.path.join(path, "media")))

    def warmup(self, spark, path: str, out: str) -> None:
        """extract() over a 4-doc slice: starts the Python workers."""
        from sparkstract.plans.pipeline import extract

        docs, media = self._frames(spark, path)
        extract(spark, docs.limit(4), media).write.parquet(out)

    def run(self, spark, path: str, out: str) -> dict:
        from sparkstract.plans.pipeline import extract

        docs, media = self._frames(spark, path)
        extract(spark, docs, media).write.parquet(out)
        return {}

    def check(self, path: str, out: str) -> tuple[int, int]:
        """Docs whose span sequence equals truth, and docs in all."""
        got = _read_dir(out)
        truth = pd.read_parquet(os.path.join(path, "truth.parquet"))
        keys = set(got["doc_id"]) | set(truth["doc_id"])
        return len(keys) - len(_seq_mismatches(got, truth)), len(keys)


class MixedCodecs(Extraction):
    def generate(self, seed: int, path: str, cache: str) -> None:
        """The pool's docs (its family rotation plus one 32-page doc per
        100) under seeded doc ids, with seeded text spans."""
        docs, media, truth = _pool(cache, self.name, n_docs=self.n_docs,
                                   heavy_every=100, heavy_pages=32,
                                   families=MIXED_FAMILIES)
        rng = np.random.default_rng(seed)
        ids = rng.permutation(len(docs))
        pages = {d: g.sort_values("order") for d, g in truth.groupby("doc_id")}
        out_docs, out_truth = [], []
        for j, (old_id, spans) in zip(ids, zip(docs["doc_id"], docs["spans"])):
            doc_id = f"doc-{j:07d}"
            texts, new_spans = [], []
            for sp in spans:
                sp = dict(sp)
                if sp["kind"] == "text":
                    sp["text"] = _passage(rng, _WORDS, 8, 40)
                    texts.append(sp["text"])
                new_spans.append(sp)
            out_docs.append(dict(doc_id=doc_id, spans=new_spans))
            texts = iter(texts)
            for r in pages[old_id].itertuples():
                out_truth.append(dict(
                    doc_id=doc_id, order=r.order, kind=r.kind,
                    text=next(texts) if r.media_ref is None else r.text,
                    media_ref=r.media_ref))
        _write_corpus(path, pd.DataFrame(out_docs).sort_values("doc_id"), media,
                      pd.DataFrame(out_truth))


class ResumableCurate(Extraction):
    """`plans.checkpoint.run_job` into a fresh directory, then the curation
    a training-corpus pipeline runs on its output: `sinks.render_text` →
    `dedup.minhash_lsh_pairs` (persisted) → `curate.curate_corpus`.

    The docs are text-heavy (tens of short text spans each plus one media
    span from a pool of four cheap pages); a quarter are near-copies of an
    earlier doc and some are in another language, so every curation branch
    has work. The committed spans are checked against truth and the
    verdicts against the DuckDB twin of the curated_corpus query. The twin
    costs seconds per few thousand words, so it runs once per checkout, on
    the frozen pool; a run's seed deals the pool docs to doc ids, and the
    expected verdicts are the twin's relabelled the same way: clusters,
    token counts, language and quality travel with the text, while cluster
    ids and kept docs are minima of the new ids."""

    GATES = ("too_short", "wrong_lang", "low_quality")

    def _pool_docs(self, refs: list[str], page_text: dict) -> tuple:
        """(docs, truth) of the frozen text pool."""
        rng = np.random.default_rng(POOL_SEED)
        docs, truth, originals = [], [], []
        for i in range(self.n_docs):
            doc_id = f"doc-{i:07d}"
            r = rng.random()
            if originals and r < 0.25:  # near-copy of an original
                texts, ref = originals[int(rng.integers(0, len(originals)))]
                texts = [" ".join(
                    _WORDS[int(rng.integers(0, len(_WORDS)))]
                    if rng.random() < 0.03 else w for w in t.split())
                    for t in texts]
            else:
                words = list(_WORDS)
                if r < 0.40:  # another language
                    words = _FOREIGN[("de", "fr", "es")[int(rng.integers(0, 3))]] \
                        + list(_WORDS[10:])
                texts = [_passage(rng, words, 6, 14)
                         for _ in range(int(rng.integers(12, 25)))]
                ref = refs[i % len(refs)]
                originals.append((texts, ref))
            media_at = int(rng.integers(0, len(texts) + 1))
            spans, rows = [], []
            for off in range(len(texts) + 1):
                if off == media_at:
                    spans.append(dict(kind="media", text=None, media_ref=ref,
                                      offset=off))
                    rows += [(k, t, ref) for k, t in page_text[ref]]
                else:
                    text = texts[off - (off > media_at)]
                    spans.append(dict(kind="text", text=text, media_ref=None,
                                      offset=off))
                    rows.append(("text", text, None))
            docs.append(dict(doc_id=doc_id, spans=spans))
            truth += [dict(doc_id=doc_id, order=o, kind=k, text=t, media_ref=m)
                      for o, (k, t, m) in enumerate(rows)]
        return pd.DataFrame(docs), pd.DataFrame(truth)

    def _pool_corpus(self, cache: str) -> tuple:
        """(docs, media, truth, the twin's verdicts), cached."""
        _, media, page_truth = _pool(cache, "pages", n_docs=len(POOL_FAMILIES),
                                     heavy_every=0, families=POOL_FAMILIES)
        path = os.path.join(cache, self.name)
        if not os.path.isdir(path):
            page_text = {ref: list(zip(g["kind"], g["text"])) for ref, g in
                         page_truth.dropna(subset=["media_ref"])
                         .sort_values("order").groupby("media_ref")}
            docs, truth = self._pool_docs(list(media["media_ref"]), page_text)
            tmp = f"{path}.tmp-{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            _write_corpus(tmp, docs, media, truth)
            self._twin(truth).to_parquet(os.path.join(tmp, "twin.parquet"),
                                         index=False)
            os.rename(tmp, path)
        return (_read_dir(os.path.join(path, "docs")), media,
                pd.read_parquet(os.path.join(path, "truth.parquet")),
                pd.read_parquet(os.path.join(path, "twin.parquet")))

    @staticmethod
    def _twin(truth: pd.DataFrame) -> pd.DataFrame:
        """The DuckDB twin of curated_corpus over the text `render_text`
        makes of correct spans."""
        import duckdb

        from __spark_entry__ import oracle_sql
        from sparkstract.sinks import TEXT_KINDS

        t = truth[truth["kind"].isin(TEXT_KINDS) & truth["text"].notna()]
        documents = (t.sort_values(["doc_id", "order"]).groupby("doc_id")["text"]
                     .agg("\n\n".join).reset_index())
        con = duckdb.connect()
        try:
            con.register("documents", documents)
            return con.execute(oracle_sql()["curated_corpus"]).df()
        finally:
            con.close()

    @classmethod
    def _relabel(cls, twin: pd.DataFrame, new_id: dict) -> pd.DataFrame:
        v = twin.copy()
        v["doc_id"] = v["doc_id"].map(new_id)
        paired = v.groupby("cluster_id")["doc_id"].transform("size") > 1
        v["cluster_id"] = v.groupby("cluster_id")["doc_id"].transform("min")
        gated = v["reason"].isin(cls.GATES)
        winner = v[~gated].groupby("cluster_id")["doc_id"].min()
        v["kept"] = ~gated & (~paired | (v["doc_id"]
                                         == v["cluster_id"].map(winner)))
        v["reason"] = v["reason"].where(
            gated, np.where(v["kept"], "kept", "duplicate"))
        return v

    def generate(self, seed: int, path: str, cache: str) -> None:
        docs, media, truth, twin = self._pool_corpus(cache)
        perm = np.random.default_rng(seed).permutation(len(docs))
        new_id = {d: f"doc-{j:07d}" for d, j in zip(docs["doc_id"], perm)}
        docs["doc_id"] = docs["doc_id"].map(new_id)
        truth["doc_id"] = truth["doc_id"].map(new_id)
        _write_corpus(path, docs.sort_values("doc_id"), media, truth)
        self._relabel(twin, new_id).to_parquet(
            os.path.join(path, "twin.parquet"), index=False)

    def run(self, spark, path: str, out: str) -> dict:
        """The timed job; returns the curation layers' times."""
        from sparkstract.operators.curate import curate_corpus
        from sparkstract.operators.dedup import minhash_lsh_pairs
        from sparkstract.plans.checkpoint import run_job
        from sparkstract.sinks import render_text

        docs, media = self._frames(spark, path)
        # the committed corpus is read by every curation stage: cache it
        corpus = render_text(run_job(spark, docs, media, out)).persist()
        t0 = time.perf_counter()
        pairs = minhash_lsh_pairs(corpus, num_hashes=8, bands=4).persist()
        try:
            n_pairs = pairs.count()
            t1 = time.perf_counter()
            # connected components run their convergence jobs here
            verdict = curate_corpus(corpus, pairs, min_tokens=20, langs=("en",),
                                    min_quality=0.1)
            t2 = time.perf_counter()
            verdict.write.parquet(os.path.join(out, "verdicts"))
            t3 = time.perf_counter()
        finally:
            pairs.unpersist()
            corpus.unpersist()
        return {"dedup.minhash_s": t1 - t0, "dedup.pairs": n_pairs,
                "cluster.assign_s": t2 - t1, "curate.verdict_s": t3 - t2}

    def check(self, path: str, out: str) -> tuple[int, int]:
        """Docs whose committed spans equal truth and whose verdict row
        equals the twin's."""
        from sparkstract.plans.checkpoint import committed_groups

        spans = pd.concat([_read_dir(os.path.join(out, "data", f"group={g}"))
                           for g in sorted(committed_groups(out))],
                          ignore_index=True)
        truth = pd.read_parquet(os.path.join(path, "truth.parquet"))
        bad = _seq_mismatches(spans, truth)
        got = _read_dir(os.path.join(out, "verdicts")).set_index("doc_id")
        want = pd.read_parquet(os.path.join(path, "twin.parquet")) \
            .set_index("doc_id")
        bad |= set(got.index) ^ set(want.index)
        for d in set(got.index) & set(want.index):
            g, w = got.loc[d], want.loc[d]
            if any(not math.isclose(g[c], w[c], abs_tol=1e-9) if c == "quality"
                   else str(g[c]) != str(w[c]) for c in want.columns):
                bad.add(d)
        keys = set(truth["doc_id"]) | set(spans["doc_id"])
        return len(keys - bad), len(keys)


WORKLOADS = {w.name: w for w in (
    MixedCodecs("mixed_codecs", 100),
    ResumableCurate("resumable_curate", 48),
)}
