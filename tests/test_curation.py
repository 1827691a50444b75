"""Sequence-packing and quantization unit tests."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark.operators.curation import (
    pack_sequences,
    quantize_embeddings_int8,
)
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table


def test_pack_sequences_offsets_contiguous_per_shard(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c", "en"),       # 3 tokens -> [0, 3)
            (2, "d e", "en"),         # 2 tokens -> [3, 5)
            (3, "f", "en"),           # 1 token  -> [5, 6)
            (10, "x y z w", "fr"),    # fr shard restarts at 0
        ],
        "doc_id long, text string, lang string",
    )
    rows = {
        r["doc_id"]: r
        for r in pack_sequences(docs, seq_len=4).collect()
    }
    assert (rows[1]["start_offset"], rows[1]["chunk_id"]) == (0, 0)
    assert (rows[2]["start_offset"], rows[2]["chunk_id"]) == (3, 0)
    # doc 3 starts at offset 5 -> second chunk of the en shard
    assert (rows[3]["start_offset"], rows[3]["chunk_id"]) == (5, 1)
    assert (rows[10]["start_offset"], rows[10]["chunk_id"]) == (0, 0)


def test_quantize_int8_roundtrip_error_bounded(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 0.5]),
            (2, [0.0, 0.0, 0.0]),       # zero vector -> scale 0, zeros
            (3, [3.75, -3.75, 1.875]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in quantize_embeddings_int8(emb).collect()}
    assert out[2]["scale"] == 0.0 and out[2]["qvec"] == [0, 0, 0]
    for vid in (1, 3):
        scale, qvec = out[vid]["scale"], out[vid]["qvec"]
        orig = {1: [1.0, -2.0, 0.5], 3: [3.75, -3.75, 1.875]}[vid]
        assert max(abs(q) for q in qvec) == 127  # absmax element saturates
        for o, q in zip(orig, qvec):
            assert abs(q / 127.0 * scale - o) <= scale / 127.0 / 2 + 1e-9


def test_pack_window_is_per_shard_not_global(spark):
    docs = spark.createDataFrame(
        [(1, "a b", "en"), (2, "c d", "fr")],
        "doc_id long, text string, lang string",
    )
    plan = (
        pack_sequences(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # partitioned window -> hashpartitioning exchange on shard, never a
    # single-partition global window
    assert "SinglePartition" not in plan


def test_curation_funnel_monotone_and_consistent(spark, sf_dir):
    """Each funnel stage can only shrink the corpus, and the three
    split counts partition the near-dedup survivors exactly."""
    from bigdata_pipelines_aws_glue_spark.operators.curation import (
        curation_funnel_report,
    )

    r = {
        row["stage"]: row["n_docs"]
        for row in curation_funnel_report(spark, sf_dir).collect()
    }
    assert (
        r["total"] >= r["gopher_keep"] >= r["exact_dedup"] >= r["near_dedup"] > 0
    )
    assert r.get("train", 0) + r.get("val", 0) + r.get("test", 0) == r["near_dedup"]
    assert r.get("train", 0) > r.get("val", 0)


def test_run_curation_materializes_manifest_exactly(spark, sf_dir, tmp_path):
    """The written corpus must BE what the funnel report promises:
    per-split counts match the report rows, survivors carry full
    document rows, and re-running overwrites idempotently."""
    from pyspark.sql import functions as F

    from bigdata_pipelines_aws_glue_spark.operators.curation import (
        curation_funnel_report,
        run_curation,
    )

    out = str(tmp_path / "curated")
    run_curation(spark, sf_dir, out)
    back = spark.read.parquet(out)
    report = {
        r["stage"]: r["n_docs"]
        for r in curation_funnel_report(spark, sf_dir).collect()
    }
    got = {
        r["split"]: r["count"]
        for r in back.groupBy("split").count().collect()
    }
    for split in ("train", "val", "test"):
        assert got.get(split, 0) == report.get(split, 0), split
    assert sum(got.values()) == report["near_dedup"]
    # full document rows survived the join
    assert {"doc_id", "text", "lang", "source", "n_chars", "split"} <= set(
        back.columns
    )
    # idempotent re-run (C3): same rows, no duplication
    run_curation(spark, sf_dir, out)
    assert spark.read.parquet(out).count() == report["near_dedup"]
    assert (
        spark.read.parquet(out)
        .groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0
    )


def test_dsir_weights_match_python_replay(spark, sf_dir):
    """Independent replay: hashlib md5 + collections.Counter vs the
    Spark/DuckDB md5-prefix hash and quantized-log pipeline."""
    import hashlib
    import math as m
    from collections import Counter

    from bigdata_pipelines_aws_glue_spark.operators.curation import (
        _DSIR_B,
        _DSIR_TARGET_LANG,
        dsir_domain_weights,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).toPandas()

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % _DSIR_B

    cnt_r: Counter = Counter()
    cnt_t: Counter = Counter()
    doc_buckets = {}
    for _, row in docs.iterrows():
        bs = [bucket(t) for t in row["text"].strip().split(" ")]
        doc_buckets[row["doc_id"]] = bs
        cnt_r.update(bs)
        if row["lang"] == _DSIR_TARGET_LANG:
            cnt_t.update(bs)
    tr, tt = float(sum(cnt_r.values())), float(sum(cnt_t.values()))
    lq = {
        b: m.floor(
            m.log(
                ((cnt_t.get(b, 0) + 1.0) * (tr + _DSIR_B))
                / ((cnt_r[b] + 1.0) * (tt + _DSIR_B))
            )
            * 1e9
            + 0.5
        )
        for b in cnt_r
    }
    weights = {
        d: sum(lq[b] for b in bs) for d, bs in doc_buckets.items() if bs
    }
    expect = sorted(weights.items(), key=lambda kv: (-kv[1], kv[0]))[:20]

    got = dsir_domain_weights(spark, sf_dir).collect()
    assert len(got) == 20
    assert [(r["doc_id"], round(r["log_weight_q9"] * 1e9)) for r in got] == [
        (d, w) for d, w in expect
    ]
    # importance resampling should upweight the target domain well
    # past its ~20% base rate (the synthetic corpus shares vocabulary
    # across langs, so 100% purity is not expected)
    langs = [r["lang"] for r in got]
    base_rate = (docs["lang"] == _DSIR_TARGET_LANG).mean()
    assert langs.count(_DSIR_TARGET_LANG) / 20 > base_rate


@pytest.mark.parametrize(
    "rounds, m", [(8, 1), (4, 4)], ids=["select", "batched"]
)
def test_greedy_coverage_matches_python_replay(spark, sf_dir, rounds, m):
    """Exact rows of both coverage queries against a Python replay: m
    picks per round by (gain DESC, doc_id), gains frozen at the
    round's start, cum_covered the coverage after the round."""
    from bigdata_pipelines_aws_glue_spark.operators.curation import (
        _BATCH_M,
        _BATCH_R,
        _COVER_K,
        greedy_coverage_batched,
        greedy_coverage_select,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).toPandas()
    shingles = {}
    for _, row in docs.iterrows():
        toks = row["text"].strip().split(" ")
        if len(toks) >= 3:
            shingles[row["doc_id"]] = {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            }
    total = len(set().union(*shingles.values()))
    covered: set = set()
    expect = []
    for rnd in range(1, rounds + 1):
        gains = {
            d: len(s - covered) for d, s in shingles.items() if s - covered
        }
        if not gains:
            break
        best = sorted(gains, key=lambda d: (-gains[d], d))[:m]
        for d in best:
            covered |= shingles[d]
        cum = len(covered)
        frac = math.floor(cum / total * 1e6 + 0.5) / 1e6
        expect += [
            (rnd, rank, d, gains[d], cum, frac)
            for rank, d in enumerate(best, 1)
        ]

    if m == 1:
        assert rounds == _COVER_K
        got = [
            (r["sel_round"], 1, *tuple(r)[1:])
            for r in greedy_coverage_select(spark, sf_dir).collect()
        ]
    else:
        assert (rounds, m) == (_BATCH_R, _BATCH_M)
        got = [tuple(r) for r in greedy_coverage_batched(spark, sf_dir).collect()]
    assert sorted(got) == expect
    assert len(expect) == rounds * m
    # submodularity: marginal gains are nonincreasing across rounds
    gains = [row[3] for row in expect]
    assert all(a >= b for a, b in zip(gains[::m], gains[m::m]))
    assert 0.0 < expect[-1][5] <= 1.0


def test_greedy_coverage_k_guard(spark, sf_dir):
    import pytest

    from bigdata_pipelines_aws_glue_spark.operators.curation import (
        _COVER_K_MAX,
        greedy_coverage_select,
    )

    # k beyond the cap must fail LOUDLY before any Spark job runs —
    # each round is a serialized driver job, so a misconfigured k
    # would otherwise queue hundreds of back-to-back jobs.
    with pytest.raises(ValueError, match="serialized driver job"):
        greedy_coverage_select(spark, sf_dir, k=_COVER_K_MAX + 1)
    with pytest.raises(ValueError):
        greedy_coverage_select(spark, sf_dir, k=0)
    # a small custom budget still works and stops at k rows
    assert greedy_coverage_select(spark, sf_dir, k=2).count() == 2


def test_greedy_batched_vs_sequential(spark, sf_dir):
    from bigdata_pipelines_aws_glue_spark.operators.curation import (
        greedy_coverage_batched,
        greedy_coverage_select,
    )

    batched = sorted(
        greedy_coverage_batched(spark, sf_dir).collect(),
        key=lambda r: (r["sel_round"], r["pick_rank"]),
    )
    assert len(batched) == 16
    # round 1's first pick is exactly the sequential greedy's first
    # pick (identical pre-round coverage and tie-break)
    seq = sorted(
        greedy_coverage_select(spark, sf_dir, k=2).collect(),
        key=lambda r: r["sel_round"],
    )
    assert batched[0]["doc_id"] == seq[0]["doc_id"]
    assert batched[0]["gain"] == seq[0]["gain"]
    # within a round, reported gains are the frozen pre-round
    # marginals: nonincreasing by pick_rank
    for rnd in (1, 2, 3, 4):
        gains = [r["gain"] for r in batched if r["sel_round"] == rnd]
        assert gains == sorted(gains, reverse=True)
    # cum_covered is ACTUAL coverage: monotone and never exceeding
    # the sum of frozen gains (in-batch overlap only loses coverage)
    cums = [r["cum_covered"] for r in batched]
    assert cums == sorted(cums)
    running = 0
    by_round = {}
    for r in batched:
        by_round.setdefault(r["sel_round"], []).append(r)
    for rnd in sorted(by_round):
        running += sum(x["gain"] for x in by_round[rnd])
        assert by_round[rnd][0]["cum_covered"] <= running
    # rounds guard
    import pytest

    with pytest.raises(ValueError, match="serialized driver job"):
        greedy_coverage_batched(spark, sf_dir, rounds=65)


def test_quantile_normalize_equalizes_keep_rates(spark, sf_dir):
    from bigdata_pipelines_aws_glue_spark.operators.curation import (
        QN_PCT_THRESHOLD,
        quality_quantile_normalize,
    )

    rows = quality_quantile_normalize(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_keep_raw"] <= r["n_docs"]
        # percentile threshold keeps the same fraction of EVERY
        # source by construction (+1 for the pr=0 row edge)
        expect = r["n_docs"] - int((r["n_docs"] - 1) * QN_PCT_THRESHOLD)
        assert abs(r["n_keep_norm"] - expect) <= 1
        assert r["min_raw"] <= r["max_raw"]


def test_mixture_temperature_allocation(spark, sf_dir):
    """Largest-remainder conservation, quota accuracy, and the
    flattening property the temperature knob exists for."""
    import math

    from bigdata_pipelines_aws_glue_spark.operators.curation import (
        MIX_BUDGET,
        domain_mixture_temperature,
    )

    rows = domain_mixture_temperature(spark, sf_dir).collect()
    assert len(rows) >= 2
    assert sum(r["alloc_docs"] for r in rows) == MIX_BUDGET  # exact
    # each allocation is within 1 of its exact (unrounded) quota —
    # the Hamilton-rounding guarantee
    wq = {r["lang"]: math.floor(math.sqrt(r["n_docs"]) * 1e6 + 0.5) for r in rows}
    w_tot = sum(wq.values())
    for r in rows:
        exact = MIX_BUDGET * wq[r["lang"]] / w_tot
        assert abs(r["alloc_docs"] - exact) < 1.0
        assert r["alloc_docs"] > 0
    # flattening: the temperature compresses the share spread, and
    # below-raw-average domains are oversampled (alloc/n_docs above
    # the global draw rate) while the largest domain is undersampled
    raw = [r["raw_share_ppm"] for r in rows]
    temp = [r["temp_share_ppm"] for r in rows]
    assert max(temp) / min(temp) < max(raw) / min(raw)
    global_rate_ppm = MIX_BUDGET * 1_000_000 // sum(r["n_docs"] for r in rows)
    for r in rows:
        if r["raw_share_ppm"] == min(raw):
            assert r["oversample_ppm"] > global_rate_ppm
        if r["raw_share_ppm"] == max(raw):
            assert r["oversample_ppm"] < global_rate_ppm


def test_mixture_capped_waterfilling(spark, sf_dir):
    """Cap respect, exact conservation (alloc + surplus = budget),
    convergence on the fixture, and both cap branches biting."""
    from bigdata_pipelines_aws_glue_spark.operators.curation import (
        R_MAX_PPM,
        domain_mixture_capped,
    )

    rows = domain_mixture_capped(spark, sf_dir).collect()
    assert len(rows) >= 2
    budget = sum(r["n_docs"] for r in rows)  # one-epoch budget
    surplus = rows[0]["surplus_unallocated"]
    assert all(r["surplus_unallocated"] == surplus for r in rows)
    assert sum(r["alloc_docs"] for r in rows) + surplus == budget
    assert surplus == 0  # the fixture converges inside WF_ROUNDS
    flags = {r["capped"] for r in rows}
    assert flags == {True, False}  # both branches bite
    for r in rows:
        assert 0 < r["alloc_docs"] <= r["cap_docs"]
        assert r["epochs_ppm"] <= R_MAX_PPM
        assert r["capped"] == (r["alloc_docs"] >= r["cap_docs"])
    # the cap binds where the uncapped mixture would overshoot: every
    # capped domain sits exactly at (integer) capacity
    for r in rows:
        if r["capped"]:
            assert r["alloc_docs"] == r["cap_docs"]


def _py_waterfill(counts: dict[str, int]):
    """Pure-Python replay of capped_waterfill's exact integer
    semantics (quantized sqrt weights, Hamilton rounding, WF_ROUNDS
    clip+redistribute passes, final clip)."""
    import math

    from bigdata_pipelines_aws_glue_spark.operators.curation import (
        R_MAX_PPM,
        WF_ROUNDS,
    )

    langs = sorted(counts)
    wq = {l: math.floor(math.sqrt(counts[l]) * 1e6 + 0.5) for l in langs}
    cap = {l: counts[l] * R_MAX_PPM // 1_000_000 for l in langs}
    b2 = sum(counts.values())
    w_tot = sum(wq.values())
    base = {l: b2 * wq[l] // w_tot for l in langs}
    rem = {l: b2 * wq[l] % w_tot for l in langs}
    extra = b2 - sum(base.values())
    order = sorted(langs, key=lambda l: (-rem[l], l))
    a = {
        l: base[l] + (1 if order.index(l) < extra else 0) for l in langs
    }
    for _ in range(WF_ROUNDS):
        over = {l: max(a[l] - cap[l], 0) for l in langs}
        a = {l: min(a[l], cap[l]) for l in langs}
        surp = sum(over.values())
        unc = [l for l in langs if a[l] < cap[l]]
        wu = sum(wq[l] for l in unc)
        if wu > 0:
            base = {l: surp * wq[l] // wu for l in unc}
            rem2 = {l: surp * wq[l] % wu for l in unc}
            extra = surp - sum(base.values())
            order = sorted(unc, key=lambda l: (-rem2[l], l))
            for i, l in enumerate(order):
                a[l] += base[l] + (1 if i < extra else 0)
    alloc = {l: min(a[l], cap[l]) for l in langs}
    surplus = b2 - sum(alloc.values())
    return alloc, cap, surplus


def test_capped_waterfill_matches_python_replay_random(spark):
    """20 seeded random domain tables through the Spark kernel vs
    the pure-Python integer replay — exact equality of allocations,
    caps, and unallocated surplus (including non-converged cases
    where every domain caps and surplus remains)."""
    import random

    from bigdata_pipelines_aws_glue_spark.operators.curation import (
        capped_waterfill,
    )

    for seed in range(20):
        rng = random.Random(seed)
        n_dom = rng.randint(2, 8)
        counts = {
            f"l{i:02d}": rng.randint(1, 10_000) for i in range(n_dom)
        }
        dom = spark.createDataFrame(
            [(l, n) for l, n in sorted(counts.items())],
            "lang string, n_docs long",
        )
        got = {
            r["lang"]: (
                r["alloc_docs"],
                r["cap_docs"],
                r["surplus_unallocated"],
            )
            for r in capped_waterfill(dom).collect()
        }
        alloc, cap, surplus = _py_waterfill(counts)
        want = {l: (alloc[l], cap[l], surplus) for l in counts}
        assert got == want, f"seed {seed}: {got} != {want}"


def test_interleave_schedule_stride_properties(spark, sf_dir):
    """Corpus schedule: exactly SCHED_SLOTS slots, vft monotone
    nondecreasing in slot order, per-domain draw indices dense from
    1, and stride-scheduling proportionality — every domain's draw
    count in the prefix is within 2 of its ideal share
    S * a_d / B (the stride lag bound, plus 1 for prefix truncation
    ties)."""
    from bigdata_pipelines_aws_glue_spark.operators.curation import (
        SCHED_SLOTS,
        mixture_interleave_schedule,
    )

    rows = sorted(
        mixture_interleave_schedule(spark, sf_dir).collect(),
        key=lambda r: r["slot"],
    )
    assert len(rows) == SCHED_SLOTS
    assert [r["slot"] for r in rows] == list(range(1, SCHED_SLOTS + 1))
    vfts = [r["vft_micro"] for r in rows]
    assert vfts == sorted(vfts)
    by_lang: dict[str, list[int]] = {}
    b_alloc = None
    alloc = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["draw_idx"])
        alloc[r["lang"]] = r["alloc_docs"]
    for lang, draws in by_lang.items():
        assert draws == list(range(1, len(draws) + 1)), lang
    b_alloc = sum(alloc.values())  # every fixture domain appears
    for lang, draws in by_lang.items():
        ideal = SCHED_SLOTS * alloc[lang] / b_alloc
        assert abs(len(draws) - ideal) <= 2, (lang, len(draws), ideal)


def _py_interleave(alloc: dict[str, int], slots: int):
    """Pure-Python WFQ/stride replay of interleave_schedule's exact
    integer semantics."""
    b_alloc = sum(a for a in alloc.values() if a > 0)
    cand = []
    for lang in sorted(alloc):
        a = alloc[lang]
        if a <= 0:
            continue
        for i in range(1, min(a, slots) + 1):
            cand.append((i * b_alloc * 1_000_000 // a, lang, i, a))
    cand.sort()
    return [
        (s + 1, lang, i, vft, a)
        for s, (vft, lang, i, a) in enumerate(cand[:slots])
    ]


def test_interleave_matches_python_replay_random(spark):
    """15 seeded random allocation tables (including zero-allocation
    domains and totals SMALLER than the slot budget, where the
    schedule is the complete interleave) through the Spark kernel vs
    the pure-Python stride replay — exact equality."""
    import random

    from bigdata_pipelines_aws_glue_spark.operators.curation import (
        interleave_schedule,
    )

    for seed in range(15):
        rng = random.Random(1000 + seed)
        n_dom = rng.randint(2, 7)
        slots = rng.choice([17, 53, 120])
        alloc = {
            f"l{i:02d}": rng.choice([0, rng.randint(1, 400)])
            for i in range(n_dom)
        }
        if not any(a > 0 for a in alloc.values()):
            alloc["l00"] = 7
        df = spark.createDataFrame(
            [(l, a) for l, a in sorted(alloc.items())],
            "lang string, alloc_docs long",
        )
        got = [
            tuple(r)
            for r in interleave_schedule(df, slots=slots)
            .orderBy("slot")
            .collect()
        ]
        want = _py_interleave(alloc, slots)
        assert got == want, f"seed {seed}: {got[:5]} != {want[:5]}"


def test_manifest_matches_python_replay(spark, sf_dir):
    """Full pure-Python replay of the manifest at the test SF: the
    expected doc for every slot is recomputed from the collected
    corpus (md5-order per-domain shuffle) and the collected
    schedule — exact row-set equality. Also pins: every slot
    exactly once, epoch arithmetic, the repetition property (a doc
    drawn twice appears in DIFFERENT epochs; within one (lang,
    epoch) docs are distinct), and that epoch 2 genuinely bites at
    the test SF."""
    import hashlib

    from bigdata_pipelines_aws_glue_spark.operators.curation import (
        SCHED_SLOTS,
        mixture_interleave_schedule,
        mixture_sample_manifest,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id"
    ).collect()
    by_lang: dict[str, list[int]] = {}
    for r in docs:
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    order = {
        lang: sorted(
            ids,
            key=lambda d: (
                hashlib.md5(str(d).encode()).hexdigest(),
                d,
            ),
        )
        for lang, ids in by_lang.items()
    }
    sched = mixture_interleave_schedule(spark, sf_dir).collect()
    expect = set()
    for s in sched:
        lang, i = s["lang"], s["draw_idx"]
        n = len(by_lang[lang])
        rank = (i - 1) % n + 1
        epoch = (i - 1) // n + 1
        expect.add(
            (s["slot"], lang, order[lang][rank - 1], i, rank, epoch)
        )
    got = {
        tuple(r) for r in mixture_sample_manifest(spark, sf_dir).collect()
    }
    assert got == expect
    assert sorted(t[0] for t in got) == list(range(1, SCHED_SLOTS + 1))
    seen: dict[tuple, int] = {}
    for slot, lang, doc_id, i, rank, epoch in got:
        key = (lang, epoch, doc_id)
        assert key not in seen, "doc repeated within an epoch"
        seen[key] = slot
    assert any(t[5] == 2 for t in got), "epoch 2 must bite at test SF"
