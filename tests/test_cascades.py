import numpy as np
import pytest

import lotus_spark as ls
from lotus_spark.cascades.utils import (
    CascadeArgs,
    calibrate_scores,
    importance_sampling,
    learn_filter_thresholds,
)
from lotus_spark.models import EchoLM, KeywordBoolLM


def test_calibrate_monotone():
    s = np.array([0.9, 0.1, 0.5, 0.7])
    cal = calibrate_scores(s, 10)
    assert cal[np.argsort(s)].tolist() == sorted(cal.tolist())
    assert (cal > 0).all() and (cal <= 1).all()


def test_importance_sampling_unbiased_weights():
    rng = np.random.default_rng(0)
    scores = rng.random(1000)
    idx, corr = importance_sampling(scores, 0.2, seed=1)
    # self-normalized IS estimate of the mean should be close to the truth
    est = float((scores[idx] * corr).sum() / corr.sum())
    assert abs(est - scores.mean()) < 0.1
    assert len(idx) == len(set(idx.tolist()))


def test_learn_thresholds_perfect_proxy():
    # scores perfectly separate labels → learner finds a usable split
    scores = np.concatenate([np.full(50, 0.9), np.full(50, 0.1)])
    labels = np.concatenate([np.ones(50, bool), np.zeros(50, bool)])
    w = np.ones(100)
    tp, tn = learn_filter_thresholds(scores, labels, w, 0.8, 0.8, 0.2)
    assert tp <= 0.9  # accepts the high-score mass
    assert tn >= 0.1 or tn == 0.0


def test_learn_thresholds_hopeless_proxy_falls_back():
    rng = np.random.default_rng(3)
    scores = rng.random(60)
    labels = rng.random(60) > 0.5  # uncorrelated
    tp, tn = learn_filter_thresholds(scores, labels, np.ones(60), 0.99, 0.99, 0.05)
    assert tp == 2.0  # accept nothing via proxy → oracle everything


def test_simulated_cascade_meets_targets():
    """Property test: on a simulated noisy proxy, routing with learned
    thresholds meets recall/precision targets vs the full oracle."""
    rng = np.random.default_rng(7)
    n = 4000
    labels = rng.random(n) < 0.4
    noise = rng.normal(0, 0.15, n)
    scores = np.clip(labels * 0.7 + 0.15 + noise, 0, 1)
    cal = calibrate_scores(scores, 50)
    idx, corr = importance_sampling(cal, 0.1, seed=11)
    tp, tn = learn_filter_thresholds(cal[idx], labels[idx], corr, 0.8, 0.8, 0.2)

    accept = cal >= tp
    reject = cal <= tn
    gray = ~accept & ~reject
    # gray zone goes to oracle → always correct there
    predicted = accept | (gray & labels)
    tp_count = (predicted & labels).sum()
    recall = tp_count / labels.sum()
    precision = tp_count / max(predicted.sum(), 1)
    assert recall >= 0.8 - 0.05
    assert precision >= 0.8 - 0.05


def test_thresholds_meet_targets_at_failure_probability_over_seeds():
    """SURVEY §7 'port the math exactly and property-test it': over many
    independent simulated corpora with a NOISY proxy, the learned
    (tau_pos, tau_neg) must miss its target on the FULL population no
    more often than the configured failure probability delta — the
    contract the Hoeffding-style corrections in learn_filter_thresholds
    exist to provide. Routing semantics: accept cal >= tau_pos (the
    precision guarantee is about this set), reject cal <= tau_neg (the
    recall guarantee is about everything NOT rejected — the gray zone
    reaches the oracle and is always right). The proxy here is
    separable-but-noisy, so the learner must also be INFORMATIVE most
    trials: the (2.0, 0.0) oracle-everything fallback would satisfy
    both bounds vacuously."""
    delta, target, trials = 0.2, 0.8, 200
    prec_fail = rec_fail = informative = 0
    for seed in range(trials):
        rng = np.random.default_rng(seed)
        n = 3000
        labels = rng.random(n) < 0.4
        scores = np.clip(
            labels * 0.6 + 0.2 + rng.normal(0, 0.2, n), 0, 1)
        cal = calibrate_scores(scores, 50)
        idx, corr = importance_sampling(cal, 0.1, seed=seed + 10_000)
        tp, tn = learn_filter_thresholds(
            cal[idx], labels[idx], corr, target, target, delta)
        acc = cal >= tp
        if acc.sum() > 0:
            informative += 1
            if (acc & labels).sum() / acc.sum() < target:
                prec_fail += 1
        kept = cal > tn
        if (kept & labels).sum() / max(labels.sum(), 1) < target:
            rec_fail += 1
    # binomial slack: at p=delta over 200 trials sigma ~= 0.028, so
    # delta + 0.09 is a >3-sigma acceptance line — a real break of the
    # bound (failures at 2*delta, say) still fails deterministically
    assert prec_fail <= (delta + 0.09) * max(informative, 1), (
        prec_fail, informative)
    assert rec_fail <= (delta + 0.09) * trials, rec_fail
    assert informative >= 0.8 * trials, informative


def test_join_plan_choice_meets_recall_and_picks_cheaper_over_seeds():
    """r13 verdict item 4 — the join-cascade twin of the r13 filter
    property test above: over many independent simulated pair corpora,
    replay sem_join_cascade's plan evaluation (quantile bucketing,
    mixture-weighted per-bucket sampling, learn_filter_thresholds, the
    REAL thresholds_to_buckets routing arithmetic, min-gray plan choice
    — reference lotus/sem_ops/sem_join.py:180-341,511-544) with two
    proxies per corpus: a DISCRIMINATIVE one (map_search_filter on a
    vocabulary-disjoint join) and a NOISY one (raw similarity). Assert
    (a) the CHOSEN plan's full-population recall — accepted buckets
    plus the oracle-correct gray zone — misses the target no more often
    than the configured failure probability (3-sigma binomial slack,
    same acceptance line as the filter test), and (b) when both plans
    qualify, the chooser picks the one with the smaller gray zone (=
    fewer oracle calls), and that is the discriminative proxy in the
    overwhelming majority of trials."""
    from lotus_spark.cascades.join_cascade import thresholds_to_buckets

    delta, target, trials = 0.2, 0.8, 200
    n_q, is_w, samp_pct = 50, 0.5, 0.1  # CascadeArgs defaults
    rec_fail = both_qualify = picked_cheaper = picked_discriminative = 0

    def evaluate(scores, labels, rng):
        """_evaluate_plan's math on an in-memory corpus: bucketize by
        score quantiles, sample per bucket with the IS mixture, learn
        thresholds, route via thresholds_to_buckets; returns the gray
        count and the full-population routing masks."""
        n = len(scores)
        edges = np.quantile(scores, [i / n_q for i in range(1, n_q)])
        bucket = np.searchsorted(edges, scores, side="left")
        target_n = int(np.clip(round(n * samp_pct), 20, 2000))
        bucket_scores = (np.arange(n_q) + 1) / n_q
        prop = np.sqrt(bucket_scores) / np.sqrt(bucket_scores).sum()
        mix = is_w * prop + (1.0 - is_w) / n_q
        per_bucket_n = n / n_q
        fractions = np.minimum(1.0, target_n * mix / max(per_bucket_n, 1.0))
        take = rng.random(n) < fractions[bucket]
        if not take.any():
            take[:20] = True
        cal_sample = (bucket[take] + 1) / n_q
        corr = 1.0 / np.maximum(fractions[bucket[take]], 1e-9)
        tp, tn = learn_filter_thresholds(
            cal_sample, labels[take], corr, target, target, delta)
        k_acc, k_rej = thresholds_to_buckets(tp, tn, n_q)
        accept = bucket >= k_acc
        gray = (bucket > k_rej) & (bucket < k_acc)
        return int(gray.sum()), accept, gray

    for seed in range(trials):
        rng = np.random.default_rng(seed)
        n = 3000
        labels = rng.random(n) < 0.3
        # plan A (map_search_filter stand-in): separable-but-noisy proxy
        sA = np.clip(labels * 0.6 + 0.2 + rng.normal(0, 0.15, n), 0, 1)
        # plan B (raw-similarity stand-in): nearly uninformative proxy
        sB = np.clip(labels * 0.1 + 0.45 + rng.normal(0, 0.2, n), 0, 1)
        evals = {"A": evaluate(sA, labels, rng),
                 "B": evaluate(sB, labels, rng)}
        chosen = min(evals, key=lambda k: evals[k][0])
        grayn, accept, gray = evals[chosen]
        predicted = accept | (gray & labels)  # oracle is right on gray
        if (predicted & labels).sum() / max(labels.sum(), 1) < target:
            rec_fail += 1
        # (b) cheaper-plan selection whenever both plans are informative
        if all(e[1].any() for e in evals.values()):
            both_qualify += 1
            if evals[chosen][0] == min(e[0] for e in evals.values()):
                picked_cheaper += 1
            if chosen == "A":
                picked_discriminative += 1

    # same 3-sigma binomial acceptance line as the filter-threshold test
    assert rec_fail <= (delta + 0.09) * trials, rec_fail
    assert both_qualify > 0
    assert picked_cheaper == both_qualify  # min-gray choice, by definition
    assert picked_discriminative >= 0.9 * both_qualify, (
        picked_discriminative, both_qualify)


def test_filter_cascade_end_to_end_equals_exact(spark):
    rows = [(i, f"doc {i} {'spark' if i % 3 == 0 else 'other'}") for i in range(60)]
    df = spark.createDataFrame(rows, ["id", "text"])
    exact = ls.sem_filter(df, "{text} is about spark", lm=KeywordBoolLM("spark"))
    cascaded = ls.sem_filter(
        df,
        "{text} is about spark",
        lm=KeywordBoolLM("spark"),
        helper_lm=KeywordBoolLM("spark"),
        cascade_args=CascadeArgs(),
    )
    assert {r["id"] for r in cascaded.collect()} == {r["id"] for r in exact.collect()}


def test_filter_cascade_spreads_one_partition_input(spark, tmp_path):
    """A one-partition input must not run the cascade's LM stages on one
    core: the helper is called from several partitions, and so is a
    sem_map downstream of the cascade (the checkpointed routing keeps
    the proxy stage's layout). The prewarm path (``learn_taus_on``)
    scores its train data the same way. Partition ids are recorded in
    marker files because executor-side calls are invisible to the
    driver."""
    import os
    import uuid

    from pyspark import TaskContext

    from lotus_spark.cascades.filter_cascade import learn_taus_on

    marker_dir = str(tmp_path / "parts")
    os.makedirs(marker_dir)

    def mark(prefix):
        part = TaskContext.get().partitionId()
        open(os.path.join(marker_dir, f"{prefix}-{part}-{uuid.uuid4().hex}"),
             "w").close()

    class HelperLM(KeywordBoolLM):
        def __init__(self, keyword, prefix):
            super().__init__(keyword)
            self.prefix = prefix

        def __call__(self, batch, **kwargs):
            mark(self.prefix)
            return super().__call__(batch, **kwargs)

    class MapLM(EchoLM):
        def __call__(self, batch, **kwargs):
            mark("map")
            return super().__call__(batch, **kwargs)

    rows = [(i, f"doc {i} {'spark' if i % 3 == 0 else 'other'}") for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "text"]).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    kept = ls.sem_filter(
        df, "{text} is about distributed computing",
        lm=KeywordBoolLM("spark"),
        helper_lm=HelperLM("spark", "helper"),
        cascade_args=CascadeArgs(),
    )
    out = ls.sem_map(kept, "echo {text}", lm=MapLM())
    assert {r["id"] for r in out.collect()} == set(range(0, 200, 3))

    def partitions(prefix):
        return {n.split("-")[1] for n in os.listdir(marker_dir)
                if n.startswith(prefix + "-")}

    assert len(partitions("helper")) >= 2, partitions("helper")
    assert len(partitions("map")) >= 2, partitions("map")

    learn_taus_on(df, "{text} is about distributed computing", {
        "cascade_args": CascadeArgs(),
        "lm": KeywordBoolLM("spark"),
        "helper_lm": HelperLM("spark", "prewarm"),
    })
    assert len(partitions("prewarm")) >= 2, partitions("prewarm")


def test_join_cascade_end_to_end(spark):
    from lotus_spark.models.demo_lms import PairKeywordJoinLM
    from lotus_spark.models import HashRM
    from lotus_spark.session import settings

    left = spark.createDataFrame(
        [(i, f"row about {'spark' if i % 2 else 'cooking'}") for i in range(20)],
        ["id", "text"],
    )
    right = spark.createDataFrame([("spark",), ("cooking",)], ["kw"])
    with settings.override(rm=HashRM(dim=16)):
        out = ls.sem_join(
            left, right, "{text} mentions {kw}", lm=PairKeywordJoinLM(),
            cascade_args=CascadeArgs(min_sample_size=10),
        )
    pairs = {(r["id"], r["kw"]) for r in out.collect()}
    expected = {(i, "spark" if i % 2 else "cooking") for i in range(20)}
    # cascade guarantees are statistical; with oracle-labeled gray zone and a
    # clean proxy the result must contain every true pair (recall) and no
    # false accepts come from the proxy-accept bucket here
    assert expected <= pairs or pairs == expected


def test_join_cascade_routed_tiers_deterministic(spark):
    """TieredEvidenceRM + route_col: a corpus with designed strong/weak/
    none evidence tiers must route strong -> accept (no oracle), the
    mixed weak tier -> gray (oracle-filtered), none -> rejected, and the
    union must equal the exact join (the sem_join_cascade_routed driver
    row's mechanism, pinned hermetically here)."""
    from lotus_spark.cascades.join_cascade import sem_join_cascade
    from lotus_spark.models.demo_lms import PairKeywordJoinLM, TieredEvidenceRM
    from lotus_spark.session import settings

    rows = []
    for i in range(120):
        if i % 4 == 0:
            rows.append((i, "spark table row"))        # strong, TRUE
        elif i % 4 == 1:
            rows.append((i, "spark join row"))         # weak, TRUE
        elif i % 4 == 2:
            rows.append((i, "scan join row"))          # weak, FALSE
        else:
            rows.append((i, "hash join row"))          # none, FALSE
    left = spark.createDataFrame(rows, ["id", "text"])
    right = spark.createDataFrame([("spark",)], ["kw"])
    out = sem_join_cascade(
        left, right, "the document [text] mentions [kw]",
        ["text"], ["kw"], {},
        oracle_lm=PairKeywordJoinLM("text", "kw"),
        cascade_args=CascadeArgs(
            recall_target=0.85, precision_target=0.85,
            min_sample_size=100, join_cascade_strategy="search_filter",
        ),
        fmt=settings.serialization_format,
        rm=TieredEvidenceRM("spark", "table", "scan"),
        route_col="src",
    ).collect()
    got = {(r["id"], r["src"]) for r in out}
    expected = {(i, "accept") for i in range(120) if i % 4 == 0} | {
        (i, "gray") for i in range(120) if i % 4 == 1}
    assert got == expected


def test_tiered_evidence_rm_similarity_values():
    import numpy as np

    from lotus_spark.models.demo_lms import TieredEvidenceRM

    rm = TieredEvidenceRM("spark", "table", "scan")
    vecs = rm(["spark", "spark table x", "spark only", "scan only", "none"])
    kw = vecs[0]
    sims = vecs[1:] @ kw
    assert np.allclose(sims, [4 / 17 ** 0.5, 1 / 2 ** 0.5,
                              1 / 2 ** 0.5, 0.0])


def test_join_cascade_size_gate(spark):
    """Below min_join_cascade_size the nested-loop path runs even when
    cascade_args is set (reference sem_join.py:761-775)."""
    import lotus_spark as ls
    from lotus_spark.cascades.utils import CascadeArgs
    from lotus_spark.models import EchoLM, KeywordBoolLM

    left = spark.createDataFrame([("apple",), ("rust",)], ["fruit"])
    right = spark.createDataFrame([("apple pie",), ("steel beam",)], ["dish"])
    # 4 pairs < min_join_cascade_size=100 -> nested loop (no sampling phase);
    # helper_lm/settings.rm are NOT configured, which would crash the
    # cascade path — passing proves the gate routed around it
    out = ls.sem_join(
        left, right, "{dish} contains {fruit}",
        lm=KeywordBoolLM("apple"), cascade_args=CascadeArgs(),
    )
    rows = {(r["fruit"], r["dish"]) for r in out.collect()}
    # keyword LM fires on 'apple' in EITHER side of the serialized pair
    assert rows == {("apple", "apple pie"), ("apple", "steel beam"),
                    ("rust", "apple pie")}


def test_join_cascade_map_search_filter_plan_wins(spark):
    """When left/right vocabularies are disjoint, the raw-similarity proxy is
    useless (gray zone = everything) but the map-search-filter proxy is
    discriminative — the plan chooser must pick it and save oracle calls."""
    from lotus_spark.cascades.utils import CascadeArgs
    from lotus_spark.models import FakeLM, HashRM
    from lotus_spark.session import settings

    n = 25
    left = spark.createDataFrame([(f"item{i}",) for i in range(n)], ["thing"])
    right = spark.createDataFrame(
        [(f"object{i} text",) for i in range(n)], ["target"]
    )

    def oracle_fn(prompt):
        import re as _re
        nums = _re.findall(r"(?:item|object)(\d+)", prompt)
        return "True" if len(set(nums)) == 1 and len(nums) >= 2 else "False"

    def map_fn(prompt):
        import re as _re
        m = _re.search(r"item(\d+)", prompt)
        return f"object{m.group(1)}" if m else "nothing"

    oracle = FakeLM(oracle_fn)
    # route the plan-B sem_map through the same oracle LM object (the
    # reference maps with the main LM); the fake answers both prompt kinds
    def routed(prompt):
        return map_fn(prompt) if "identify the most relevant" in prompt else oracle_fn(prompt)

    lm = FakeLM(routed)
    settings.rm = HashRM(dim=64)
    try:
        out = __import__("lotus_spark").sem_join(
            left, right, "{thing} corresponds to {target}",
            lm=lm,
            cascade_args=CascadeArgs(recall_target=0.8, precision_target=0.8,
                                     sampling_percentage=0.3),
        )
        rows = {(r["thing"], r["target"]) for r in out.collect()}
        expected = {(f"item{i}", f"object{i} text") for i in range(n)}
        assert rows == expected
        # far fewer oracle calls than the 625-pair product:
        # 2x sample labeling + 25 map calls + gray zone
        assert lm.usage.total_calls < 450, lm.usage.total_calls
    finally:
        settings.rm = None


def test_join_cascade_strategy_override_validated(spark):
    from lotus_spark.cascades.utils import CascadeArgs
    from lotus_spark.models import FakeLM, HashRM
    from lotus_spark.session import settings

    left = spark.createDataFrame([(f"a{i}",) for i in range(12)], ["x"])
    right = spark.createDataFrame([(f"a{i} b",) for i in range(12)], ["y"])
    settings.rm = HashRM(dim=32)
    try:
        with pytest.raises(ValueError, match="join_cascade_strategy"):
            __import__("lotus_spark").sem_join(
                left, right, "{x} matches {y}", lm=FakeLM(lambda p: "True"),
                cascade_args=CascadeArgs(join_cascade_strategy="hash_join"),
            )
    finally:
        settings.rm = None
