"""Language ID over SPARSE hashed feature vectors: the one vector-shaped
trainer behind ``langid_scores_wide`` (DIM=256, char-3 grams) and
``langid_scores_wide_union`` (DIM=65536, char-3 + word-1 + word-2 grams).

The narrow langid operators (operators/langid.py) materialize the
features as DIM+1 named columns and train all classes in one scalar
aggregate -- the right shape at DIM=16, where the DuckDB oracle replays
the trajectory as unrolled CTEs, and the wrong one at fastText widths
(64k-2M buckets), where a dense row is mostly zeros and per-doc support
is only a few thousand features. This module re-expresses the SAME
quantized trainer over support-sized vectors, so one path covers both
the narrow and the wide dimensions:

* features are TWO aligned arrays (idx array<bigint>, val
  array<bigint>) -- the nonzero buckets only. Char n-grams hash with
  the EXACT narrow bucket rule (md5('lid:'||gram)); word n-grams hash
  namespaced strings ('w1:tok', 'w2:tok tok'); all families share one
  quantization: xq = floor((cnt/total)*1e6+0.5) over the TOTAL feature
  count, bias _S at index dim. With word_ngrams=() and dim=16 the
  features are the narrow path's under a layout map (narrow: bias at
  0, bucket b at b+1; here: bucket b at b, bias at dim), and the
  trajectory equals the hash-exact JVM trainer's -- the
  cross-implementation pin (tests/test_round10_ops.py::TestWideLangid).
* each training iteration is one mapInPandas pass: per chunk the dot
  products are ONE np.add.reduceat over the flattened (idx, val)
  arrays and the gradient is ONE np.add.at scatter -- cost is
  nnz-bound, independent of DIM (experiments/langid_union_scale.json:
  per-iteration wall FLAT from DIM=4096 to DIM=1048576). Exactness:
  per-term |(pq-y)*xq| <= 1e12, accumulation is flushed every
  _FLUSH_ROWS rows so int64 partials are provably < 4e18 < 2^63 (the
  trajectory is pinned invariant under tiny chunk and flush sizes);
  nonlinearities go through CPython libm row-at-a-time so the
  quantized trajectory is reproducible bit-for-bit by the independent
  pure-Python twin (tests/test_round11_ops.py pins it, char-only and
  union).

Both registered surfaces are rows-only by design: the unrolled-CTE
oracle at these widths would be megabytes of SQL; correctness is
carried by the independent-Python pin plus the dim=16 equality to the
hash-exact JVM trainer.

Why the union matters (measured, experiments/langid_union_scale.json):
on a confusable-pair corpus -- two languages built from the SAME word
multiset in language-specific ORDER, with word shapes chosen so every
junction trigram is identical -- char-3-gram features are chance-level
by construction and word-BIGRAM features separate perfectly; the union
config wins without giving up the char signal on the ordinary corpus.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .langid import LID_ITERS, LID_LANGS, LID_LR, LID_SEED, _S

#: The registered fastText-regime configuration.
UNION_DIM = 65536
UNION_WORD_NGRAMS = (1, 2)

#: ``langid_scores_wide``: char-3 grams only, 16x the oracle-exact
#: DIM=16 narrow trainer.
WIDE_DIM = 256

#: Rows per flattened (idx, val) chunk of a training batch: bounds the
#: size of the per-chunk numpy arrays, not the exactness argument.
_MM_CHUNK = 65536

#: Rows per emitted partial row-group: every LongType gradient value
#: leaving the executor is < _FLUSH_ROWS * 1e12 = 4e18 < 2^63, so a
#: partition of ANY size stays exact -- it just emits more groups.
_FLUSH_ROWS = 4_000_000


def _bucket(feat: str, dim: int) -> int:
    """The shared bucket rule (langid._lid_features verbatim): first
    15 hex chars of md5('lid:'||feat) as an integer, mod dim. Char
    grams pass through RAW (identical buckets to the narrow path);
    word n-grams arrive namespaced ('w{n}:...')."""
    return int(
        hashlib.md5(f"{LID_SEED}:{feat}".encode()).hexdigest()[:15], 16
    ) % dim


def _union_row(
    text: str, dim: int, memo: dict, char_ngram: int, word_ngrams: tuple
):
    """One doc's sparse features: (idx list, aligned val list) -- the
    bias _S at index ``dim`` FIRST, then the nonzero feature buckets
    in ascending order (idx is NOT globally sorted; every consumer in
    this module is order-agnostic: reduceat/add.at/elementwise dot).
    Counts over char n-grams + word n-grams share one quantization by
    the total feature count."""
    t = text or ""
    counts: dict[int, int] = {}
    total = 0
    ng = max(len(t) - (char_ngram - 1), 0)
    for i in range(ng):
        g = t[i : i + char_ngram]
        b = memo.get(g)
        if b is None:
            b = _bucket(g, dim)
            memo[g] = b
        counts[b] = counts.get(b, 0) + 1
        total += 1
    toks = t.split()
    for n in word_ngrams:
        for i in range(max(len(toks) - (n - 1), 0)):
            f = f"w{n}:" + " ".join(toks[i : i + n])
            b = memo.get(f)
            if b is None:
                b = _bucket(f, dim)
                memo[f] = b
            counts[b] = counts.get(b, 0) + 1
            total += 1
    idx = [dim]
    val = [_S]
    if total:
        for b in sorted(counts):
            q = math.floor((counts[b] / total) * 1.0e6 + 0.5)
            if q:
                idx.append(b)
                val.append(q)
    return idx, val


def _pq_from_dot(dot: int) -> int:
    """Quantized sigmoid under integer weights -- the narrow trainer's
    exact rule (z = dot/1e12 in double, pq = floor(1e6/(1+exp(-z)) +
    0.5)), evaluated by CPython libm."""
    z = float(dot) / 1.0e12
    return math.floor(float(_S) / (1.0 + math.exp(-z)) + 0.5)


def _nll_q(pq: int, is_y: bool) -> int:
    """Quantized per-row NLL -- the narrow trainer's rule verbatim."""
    pc = float(min(max(pq, 1), _S - 1)) / 1.0e6
    return math.floor(-math.log(pc if is_y else 1.0 - pc) * 1.0e6 + 0.5)


def union_features(
    documents: DataFrame,
    dim: int = UNION_DIM,
    *,
    char_ngram: int = 3,
    word_ngrams: tuple = UNION_WORD_NGRAMS,
) -> DataFrame:
    """(doc_id, lang, idx array<bigint>, val array<bigint>): the
    sparse union feature relation -- per-doc size is the doc's
    DISTINCT feature support, independent of DIM. One Arrow pass with
    a per-batch feature memo; no shuffle beyond the scan spread."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lang", StringType()),
            StructField("idx", ArrayType(LongType())),
            StructField("val", ArrayType(LongType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict = {}
        for pdf in batches:
            out = {"doc_id": [], "lang": [], "idx": [], "val": []}
            for doc_id, lang, text in zip(
                pdf["doc_id"], pdf["lang"], pdf["text"]
            ):
                idx, val = _union_row(
                    str(text) if text is not None else "",
                    dim,
                    memo,
                    char_ngram,
                    word_ngrams,
                )
                out["doc_id"].append(doc_id)
                out["lang"].append(lang)
                out["idx"].append(idx)
                out["val"].append(val)
            yield pd.DataFrame(out)

    from .text_analysis import _fan_out

    base = documents.select("doc_id", "lang", "text")
    return _fan_out(base).mapInPandas(
        run, schema=schema
    )


def union_train_trace(
    documents: DataFrame,
    iters: int = LID_ITERS,
    lr: float = LID_LR,
    *,
    dim: int = UNION_DIM,
    char_ngram: int = 3,
    word_ngrams: tuple = UNION_WORD_NGRAMS,
) -> tuple[list, dict]:
    """The quantized one-vs-rest trainer over SPARSE features: same
    trajectory semantics as langid.langid_train_trace (pinned equal
    under the layout map at DIM=16 with word_ngrams=()), with nnz-bound
    per-iteration cost.
    Per chunk: flatten (idx, val), dots = np.add.reduceat, gradient =
    np.add.at scatter of np.repeat(pq - y, nnz) * val -- both exact
    int64 under the flush bound."""
    import numpy as np

    feats = union_features(
        documents, dim, char_ngram=char_ngram, word_ngrams=word_ngrams
    ).persist()
    feats.count()
    try:
        w = {l: [0] * (dim + 1) for l in LID_LANGS}
        rows: list = []
        part_schema = StructType(
            [
                StructField("lang", StringType()),
                StructField("grad_idx", ArrayType(LongType())),
                StructField("grad_val", ArrayType(LongType())),
                StructField("nll", LongType()),
                StructField("n", LongType()),
            ]
        )
        for t in range(1, iters + 1):
            w_mat = {
                l: np.asarray(w[l], dtype=np.int64) for l in LID_LANGS
            }

            def run(batches, _w=w_mat):
                # sparse map-side combine: per-class gradient lives in
                # a DENSE int64 accumulator (bounded exact: flushed
                # every _FLUSH_ROWS rows, so |partial| < 4e6 * 1e12 <
                # 2^63), but is EMITTED sparse (nonzero buckets only)
                # -- the partial row is support-sized, not DIM-sized
                grads = {
                    l: np.zeros(dim + 1, dtype=np.int64)
                    for l in LID_LANGS
                }
                nlls = {l: 0 for l in LID_LANGS}
                n = 0

                def emit():
                    out = {
                        "lang": [],
                        "grad_idx": [],
                        "grad_val": [],
                        "nll": [],
                        "n": [],
                    }
                    for l in LID_LANGS:
                        nz = np.nonzero(grads[l])[0]
                        out["lang"].append(l)
                        out["grad_idx"].append(nz.tolist())
                        out["grad_val"].append(grads[l][nz].tolist())
                        out["nll"].append(nlls[l])
                        out["n"].append(n)
                    return pd.DataFrame(out)

                for pdf in batches:
                    if not len(pdf):
                        continue
                    idx_rows = list(pdf["idx"])
                    val_rows = list(pdf["val"])
                    labels = list(pdf["lang"])
                    n += len(labels)
                    for s in range(0, len(labels), _MM_CHUNK):
                        ic = idx_rows[s : s + _MM_CHUNK]
                        vc = val_rows[s : s + _MM_CHUNK]
                        lc = labels[s : s + _MM_CHUNK]
                        lens = np.fromiter(
                            (len(r) for r in ic),
                            dtype=np.int64,
                            count=len(ic),
                        )
                        starts = np.zeros(len(ic), dtype=np.int64)
                        np.cumsum(lens[:-1], out=starts[1:])
                        idx_all = np.fromiter(
                            (b for r in ic for b in r),
                            dtype=np.int64,
                            count=int(lens.sum()),
                        )
                        val_all = np.fromiter(
                            (v for r in vc for v in r),
                            dtype=np.int64,
                            count=int(lens.sum()),
                        )
                        for l in LID_LANGS:
                            dots = np.add.reduceat(
                                val_all * _w[l][idx_all], starts
                            )
                            pqs = np.fromiter(
                                (_pq_from_dot(int(d)) for d in dots),
                                dtype=np.int64,
                                count=len(dots),
                            )
                            ys = np.fromiter(
                                ((_S if lab == l else 0) for lab in lc),
                                dtype=np.int64,
                                count=len(lc),
                            )
                            np.add.at(
                                grads[l],
                                idx_all,
                                np.repeat(pqs - ys, lens) * val_all,
                            )
                            nlls[l] += sum(
                                _nll_q(int(pq), lab == l)
                                for pq, lab in zip(pqs, lc)
                            )
                    if n >= _FLUSH_ROWS:
                        yield emit()
                        grads = {
                            l: np.zeros(dim + 1, dtype=np.int64)
                            for l in LID_LANGS
                        }
                        nlls = {l: 0 for l in LID_LANGS}
                        n = 0
                yield emit()

            partials = feats.mapInPandas(run, schema=part_schema).collect()
            n = sum(r["n"] for r in partials) // max(len(LID_LANGS), 1)
            if n == 0:
                break
            for l in LID_LANGS:
                g: dict[int, int] = {}
                nll = 0
                for r in partials:
                    if r["lang"] != l:
                        continue
                    nll += int(r["nll"])
                    for j, v in zip(r["grad_idx"], r["grad_val"]):
                        g[j] = g.get(j, 0) + int(v)
                wl = w[l]
                for j, gv in g.items():
                    wl[j] -= math.floor(
                        float(gv) * lr / (float(n) * 1e6) + 0.5
                    )
                avg_loss = float(nll) / (float(n) * 1e6)
                rows.append((t, l, avg_loss))
        return rows, w
    finally:
        feats.unpersist()


def langid_scores_wide_union(
    documents: DataFrame,
    iters: int = LID_ITERS,
    lr: float = LID_LR,
    *,
    dim: int = UNION_DIM,
    char_ngram: int = 3,
    word_ngrams: tuple = UNION_WORD_NGRAMS,
    _trained=None,
) -> DataFrame:
    """(doc_id, labeled_lang, pred_lang, confidence, margin_q6) under
    the sparse model -- langid.langid_scores' exact output contract
    (argmax with lexicographic tie-break, quantized confidence,
    winner-minus-runner-up margin), scored sparsely (per-doc cost =
    support size).
    Registered rows-only (module doc)."""
    import numpy as np

    _rows, w = _trained or union_train_trace(
        documents,
        iters,
        lr,
        dim=dim,
        char_ngram=char_ngram,
        word_ngrams=word_ngrams,
    )
    w_mat = {l: np.asarray(w[l], dtype=np.int64) for l in LID_LANGS}
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("labeled_lang", StringType()),
            StructField("pred_lang", StringType()),
            StructField("confidence", DoubleType()),
            StructField("margin_q6", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        memo: dict = {}
        for pdf in batches:
            out = {
                "doc_id": [],
                "labeled_lang": [],
                "pred_lang": [],
                "confidence": [],
                "margin_q6": [],
            }
            for doc_id, lang, text in zip(
                pdf["doc_id"], pdf["lang"], pdf["text"]
            ):
                idx, val = _union_row(
                    str(text) if text is not None else "",
                    dim,
                    memo,
                    char_ngram,
                    word_ngrams,
                )
                ia = np.asarray(idx, dtype=np.int64)
                va = np.asarray(val, dtype=np.int64)
                pqs = {
                    l: _pq_from_dot(int((va * w_mat[l][ia]).sum()))
                    for l in LID_LANGS
                }
                best = max(pqs.values())
                pred = next(l for l in LID_LANGS if pqs[l] == best)
                second = sorted(pqs.values(), reverse=True)[1]
                out["doc_id"].append(doc_id)
                out["labeled_lang"].append(lang)
                out["pred_lang"].append(pred)
                out["confidence"].append(float(best) / float(_S))
                out["margin_q6"].append(best - second)
            yield pd.DataFrame(out)

    from .text_analysis import _fan_out

    base = documents.select("doc_id", "lang", "text")
    return _fan_out(base).mapInPandas(
        run, schema=schema
    )


def union_trained_for_table(
    spark,
    sf_dir: str,
    iters: int = LID_ITERS,
    lr: float = LID_LR,
    dim: int = UNION_DIM,
    word_ngrams: tuple = UNION_WORD_NGRAMS,
):
    """The registered wide queries' model, trained once per documents
    table and parameter set (sources.io.table_memo)."""
    from ..sources.io import load_table, table_memo

    return table_memo(
        sf_dir,
        ("langid_union", iters, lr, dim, word_ngrams),
        lambda: union_train_trace(
            load_table(spark, sf_dir, "documents"),
            iters,
            lr,
            dim=dim,
            word_ngrams=word_ngrams,
        ),
    )
