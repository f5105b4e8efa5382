"""The one PQ scan (operators/similarity.py `_adc_rerank`) and the one
PQ encoder (`_assign_codes_micro`) behind pq_topk_det, ivfpq_topk_det
and pq_topk_lloyd.

A ten-vector corpus with duplicate vectors (exact ties in both the ADC
scan and the exact re-rank), a near-duplicate that shares its twin's
codes (an ADC tie whose exact dots differ) and negative components is
run through all three operators and compared, exactly, with a
pure-Python pipeline: integer micro encode with the lowest-label
tiebreak, LUT ADC, top refine*k window by (approx DESC, id), exact
re-rank by (dot DESC, id).  The det ``dot`` is also checked against a
Decimal reference, round(sum(round(q*v, 12)), 6).  Plus a source pin:
the LUT aggregation has one site and no decimal(28,12) copy remains."""

import hashlib
import os
import pathlib
import sys
from decimal import ROUND_HALF_UP, Decimal

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ingest_pipeline_spark.operators.similarity import (  # noqa: E402
    ivfpq_topk_det,
    pq_codebook_lloyd,
    pq_topk_det,
    pq_topk_lloyd,
)

M, D_SUB, N_CODES, K = 2, 2, 4, 2
VECS = {
    1: [0.5, -0.25, 0.75, -0.5],
    2: [-0.5, 0.25, 0.125, 0.375],
    3: [0.25, 0.5, -0.75, 0.125],
    4: [-0.125, -0.625, 0.25, 0.5],
    5: [0.5, -0.25, 0.75, -0.5],  # = 1
    6: [0.25, 0.5, -0.75, 0.125],  # = 3
    7: [0.5, -0.25, 0.75, -0.5],  # = 1
    8: [0.5, -0.25, 0.75, -0.499999],  # 1's codes, another exact dot
    9: [-0.3, 0.2, -0.1, 0.4],
    10: [0.123456, -0.654321, 0.5, -0.5],
}
QIDS = (2, 8, 9)


def _dec(x: float) -> Decimal:
    return Decimal(repr(x))


def _micro(x: float) -> int:
    return int(_dec(x).quantize(Decimal("1e-6"), ROUND_HALF_UP) * 10**6)


MV = {i: [_micro(x) for x in v] for i, v in VECS.items()}


def _reference(cb: dict, refine: int):
    """Pure-Python PQ top-k over MV against a micro codebook
    {(j, c, ps): cbv}.  Returns ({(q, id): (dot_i, rank)}, ties) where
    ties counts queries whose ADC window cut splits equal scores and
    queries whose top-k holds equal exact dots."""
    labels = sorted({c for (_j, c, _ps) in cb})
    codes = {
        (i, j): min(
            labels,
            key=lambda c: (
                sum((v[j * D_SUB + ps] - cb[(j, c, ps)]) ** 2
                    for ps in range(D_SUB)),
                c,
            ),
        )
        for i, v in MV.items()
        for j in range(M)
    }
    out, ties = {}, {"adc": 0, "exact": 0}
    for q in QIDS:
        qv = MV[q]
        lut = {
            (j, c): sum(qv[j * D_SUB + ps] * cb[(j, c, ps)] for ps in range(D_SUB))
            for j in range(M)
            for c in labels
        }
        adc = {i: sum(lut[(j, codes[(i, j)])] for j in range(M)) for i in MV if i != q}
        order = sorted(adc, key=lambda i: (-adc[i], i))
        w = refine * K
        ties["adc"] += adc[order[w - 1]] == adc[order[w]]
        exact = {i: sum(a * b for a, b in zip(qv, MV[i])) for i in order[:w]}
        top = sorted(exact, key=lambda i: (-exact[i], i))[:K]
        ties["exact"] += len({exact[i] for i in top}) < len(top)
        for rank, i in enumerate(top, start=1):
            out[(q, i)] = (exact[i], rank)
    return out, ties


def _det_dot(q: int, i: int) -> float:
    """The decimal formulation the oracles spell out."""
    s = sum(
        (_dec(a) * _dec(b)).quantize(Decimal("1e-12"), ROUND_HALF_UP)
        for a, b in zip(VECS[q], VECS[i])
    )
    return float(s.quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _frames(spark):
    corpus = spark.createDataFrame(
        sorted(VECS.items()), "vec_id long, embedding array<double>"
    )
    return corpus, corpus.filter(corpus.vec_id.isin(*QIDS))


def _got(df) -> dict:
    return {(r.query_id, r.neighbor_id): (r.dot, r.rank) for r in df.collect()}


def _det_grid() -> dict:
    def val(j, c, ps):
        u = int(hashlib.md5(f"pqdet:{j}:{c}:{ps}".encode()).hexdigest()[:8], 16)
        return _micro((u / 4294967296.0) * 2 - 1)

    return {(j, c, ps): val(j, c, ps)
            for j in range(M) for c in range(N_CODES) for ps in range(D_SUB)}


def _check_det(got: dict, ref: dict) -> None:
    # HALF_UP, as Spark rounds: (8, 1) lands exactly on 1.1249995
    six = {
        key: (float((Decimal(dot_i) / 10**12).quantize(Decimal("1e-6"), ROUND_HALF_UP)), rank)
        for key, (dot_i, rank) in ref.items()
    }
    assert got == six
    assert all(dot == _det_dot(q, i) for (q, i), (dot, _r) in got.items())


@pytest.mark.parametrize("refine", [1, 3])
def test_pq_topk_det_ties_and_signs(spark, refine):
    ref, ties = _reference(_det_grid(), refine)
    corpus, queries = _frames(spark)
    got = _got(pq_topk_det(corpus, queries, k=K, m=M, n_codes=N_CODES,
                           refine=refine))
    _check_det(got, ref)
    assert ties["adc"] and ties["exact"], ties


@pytest.mark.parametrize("refine", [1, 3])
def test_ivfpq_topk_det_ties_and_signs(spark, refine):
    # every cell probed: the IVF prune keeps every pair but the self-pair
    sampled = {
        (j, i, ps): MV[i][j * D_SUB + ps]
        for i in sorted(MV)[:N_CODES] for j in range(M) for ps in range(D_SUB)
    }
    ref, ties = _reference(sampled, refine)
    corpus, queries = _frames(spark)
    got = _got(ivfpq_topk_det(corpus, queries, k=K, m=M, n_codes=N_CODES,
                              n_cells=2, n_probe=2, refine=refine))
    _check_det(got, ref)
    assert ties["adc"] and ties["exact"], ties


@pytest.mark.parametrize("refine", [1, 3])
def test_pq_topk_lloyd_ties_and_signs(spark, refine):
    corpus, queries = _frames(spark)
    learned = {
        (r.j, r.c, r.ps): r.cbv
        for r in pq_codebook_lloyd(corpus, m=M, n_codes=N_CODES, iters=2).collect()
    }
    ref, ties = _reference(learned, refine)
    got = _got(pq_topk_lloyd(corpus, queries, k=K, m=M, n_codes=N_CODES,
                             iters=2, refine=refine))
    assert got == {key: (dot_i / 1e12, rank) for key, (dot_i, rank) in ref.items()}
    assert ties["adc"] and ties["exact"], ties


def test_one_pq_scan_in_package():
    """Source pin: one LUT aggregation (in `_adc_rerank`), no decimal
    copy of the PQ arithmetic in operators/similarity.py, and no
    explode -> join -> groupBy(id, j, c) encode anywhere."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "ingest_pipeline_spark"
    srcs = {p: p.read_text() for p in pkg.rglob("*.py")}
    assert sum(s.count('groupBy("query_id", "j", "c")') for s in srcs.values()) == 1
    assert not [p for p, s in srcs.items() if '.groupBy("id", "j", "c")' in s]
    sim = (pkg / "operators" / "similarity.py").read_text().lower()
    assert "decimal(28,12)" not in sim
