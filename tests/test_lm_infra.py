"""LM infrastructure: response cache, usage limits, rate limiting,
long-context strategies (SURVEY §2.4 / §2.6)."""

import pytest

from lotus_spark.long_context import (
    apply_long_context,
    chunk_column,
    split_tokenwise,
    truncate_doc,
)
from lotus_spark.models import EchoLM, FakeLM, KeywordBoolLM
from lotus_spark.models.cache import (
    CachedLM,
    InMemoryLRUCache,
    SQLiteCache,
    cache_key,
    join_answer_cache,
)
from lotus_spark.models.limits import (
    LimitedLM,
    RateLimiter,
    UsageLimit,
    UsageLimitExceeded,
)
from lotus_spark.models.lm import call_distinct


def _msgs(text):
    return [{"role": "user", "content": text}]


# ----------------------------------------------------------------- caching
def test_cache_key_is_stable_and_sensitive():
    k1 = cache_key("m", _msgs("a"), {"t": 0})
    assert k1 == cache_key("m", _msgs("a"), {"t": 0})
    assert k1 != cache_key("m", _msgs("b"), {"t": 0})
    assert k1 != cache_key("m2", _msgs("a"), {"t": 0})
    assert k1 != cache_key("m", _msgs("a"), {"t": 1})


def test_cached_lm_avoids_repeat_calls():
    inner = KeywordBoolLM("yes")
    lm = CachedLM(inner)
    out1 = lm([_msgs("yes please"), _msgs("no")])
    assert out1.outputs == ["True", "False"]
    assert inner.usage.total_calls == 2
    out2 = lm([_msgs("yes please"), _msgs("no"), _msgs("yes!")])
    assert out2.outputs == ["True", "False", "True"]
    assert inner.usage.total_calls == 3  # only the new prompt hit the model
    assert lm.hits == 2 and lm.misses == 3


def test_cached_lm_keeps_logprobs_on_miss_and_hit():
    """A cascade helper behind the cache keeps its confidence signal: a
    ``logprobs=True`` call returns the bare LM's logprobs, and a
    repeated call answered from the cache returns them again."""
    batch = [_msgs("x marks the spot"), _msgs("nothing here")]
    bare = KeywordBoolLM("x")(batch, logprobs=True)
    inner = KeywordBoolLM("x")
    lm = CachedLM(inner)
    miss = lm(batch, logprobs=True)
    hit = lm(batch, logprobs=True)
    assert miss.logprobs is not None
    assert miss.outputs == hit.outputs == bare.outputs
    assert miss.logprobs == hit.logprobs == bare.logprobs
    assert inner.usage.total_calls == 2 and lm.hits == 2
    # a plain call is keyed apart and answers outputs only
    assert lm(batch).outputs == bare.outputs


def test_lru_cache_evicts_oldest():
    c = InMemoryLRUCache(max_size=2)
    c.put("a", "1"); c.put("b", "2"); c.put("c", "3")
    assert c.get("a") is None and c.get("b") == "2" and c.get("c") == "3"


def test_sqlite_cache_persists_and_pickles(tmp_path):
    import pickle

    path = str(tmp_path / "lm.db")
    c = SQLiteCache(path)
    c.put("k", "v")
    c2 = pickle.loads(pickle.dumps(c))  # ships as config
    assert c2.get("k") == "v"
    assert SQLiteCache(path).get("k") == "v"  # fresh process view


def test_join_answer_cache_splits_hits_and_misses(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("p1",), ("p2",), ("p3",)], ["prompt"])
    cache_df = spark.createDataFrame([("p2", "cached!")], ["raw", "answer"]) \
        .select(F.sha2(F.col("raw"), 256).alias("prompt_hash"), "answer")
    hits, misses = join_answer_cache(df, "prompt", cache_df)
    assert [r["prompt"] for r in hits.collect()] == ["p2"]
    assert hits.first()["answer"] == "cached!"
    assert sorted(r["prompt"] for r in misses.collect()) == ["p1", "p3"]


# ------------------------------------------------------------------ limits
def test_usage_limit_raises_when_crossed():
    lm = EchoLM()
    limited = LimitedLM(lm, usage_limit=UsageLimit(max_calls=2))
    limited([_msgs("a")])
    limited([_msgs("b")])  # usage now == 2, not over
    with pytest.raises(UsageLimitExceeded):
        limited([_msgs("c")])


def test_rate_limiter_blocks_until_window_frees():
    t = {"now": 0.0}
    sleeps = []

    def clock():
        return t["now"]

    def sleep(s):
        sleeps.append(s)
        t["now"] += s

    rl = RateLimiter(rpm=2, safety=0.0, clock=clock, sleep=sleep)
    rl.acquire(); rl.acquire()
    assert not sleeps
    rl.acquire()  # window full → must wait until first request ages out
    assert sleeps and t["now"] >= 60.0


def test_rate_limiter_tpm():
    t = {"now": 0.0}

    def clock():
        return t["now"]

    def sleep(s):
        t["now"] += s

    rl = RateLimiter(tpm=100, safety=0.0, clock=clock, sleep=sleep)
    rl.acquire(n_tokens=90)
    rl.acquire(n_tokens=50)  # must wait for the 90 to age out
    assert t["now"] >= 60.0


# ------------------------------------------------------- call_distinct
def test_call_distinct_copies_outputs_and_logprobs_in_row_order():
    texts = ["yes a", "no b", "yes a", "no c", "no b", "yes a"]
    batch = [_msgs(t) for t in texts]
    per_row = KeywordBoolLM("yes")(batch)
    lm = KeywordBoolLM("yes")
    out = call_distinct(lm, batch, logprobs=True)
    assert out.outputs == per_row.outputs
    assert out.logprobs == per_row.logprobs
    # key order inside a message dict does not make a prompt distinct
    swapped = [{"content": "yes a", "role": "user"}]
    assert call_distinct(lm, [batch[0], swapped]).outputs == ["True", "True"]


def test_call_distinct_usage_counts_distinct_calls_and_all_rows():
    lm = EchoLM()
    batch = [_msgs(t) for t in ["a", "b", "a", "a", "c"]]
    out = call_distinct(lm, batch)
    assert out.outputs == ["a", "b", "a", "a", "c"]
    assert out.logprobs is None
    assert lm.usage.total_calls == 3
    assert lm.usage.virtual_calls == 5


def test_call_distinct_passes_sampling_calls_through():
    seen = []

    class RecordingLM(EchoLM):
        def __call__(self, batch, **kwargs):
            seen.append(batch)
            return super().__call__(batch, **kwargs)

    batch = [_msgs("a"), _msgs("a")]
    lm = RecordingLM()
    call_distinct(lm, batch, temperature=0.7)
    assert seen[-1] is batch
    lm.temperature = 0.5
    call_distinct(lm, batch)
    assert seen[-1] is batch
    # an explicit temperature=0 call is deterministic again
    call_distinct(lm, batch, temperature=0.0)
    assert seen[-1] == [_msgs("a")]
    assert lm.usage.total_calls == 5 and lm.usage.virtual_calls == 6


def test_call_distinct_composes_with_cached_and_limited_lm():
    batch = [_msgs(t) for t in ["a", "b", "a", "c", "b"]]
    inner = EchoLM()
    cached = CachedLM(inner)
    assert call_distinct(cached, batch).outputs == ["a", "b", "a", "c", "b"]
    assert call_distinct(cached, batch).outputs == ["a", "b", "a", "c", "b"]
    assert inner.usage.total_calls == 3  # the second batch is all hits
    assert (cached.misses, cached.hits) == (3, 3)
    assert inner.usage.virtual_calls == 10  # every row of both batches

    class RecordingLimiter:
        def __init__(self):
            self.requests = []

        def acquire(self, n_requests=1, n_tokens=0):
            self.requests.append(n_requests)

    limiter = RecordingLimiter()
    limited = LimitedLM(EchoLM(), rate_limiter=limiter)
    assert call_distinct(limited, batch).outputs == ["a", "b", "a", "c", "b"]
    assert limiter.requests == [3]  # budget charged for distinct requests


def test_sem_map_sends_each_distinct_prompt_once_per_batch(spark, tmp_path):
    """200 rows over 3 languages: each Arrow batch sends the LM at most
    3 prompts, and every row still gets its own answer. Batch sizes are
    recorded in marker files (executor-side calls are invisible to the
    driver's usage counters)."""
    import os
    import uuid

    from lotus_spark import sem_map
    from lotus_spark.models.fake_lm import RegexMapLM

    marker_dir = str(tmp_path / "batches")
    os.makedirs(marker_dir)

    class BatchMarkingLM(RegexMapLM):
        def __call__(self, batch, **kwargs):
            with open(os.path.join(marker_dir, uuid.uuid4().hex), "w") as f:
                f.write(str(len(batch)))
            return super().__call__(batch, **kwargs)

    langs = ["en", "de", "fr"]
    docs = spark.createDataFrame(
        [(i, langs[i % 3]) for i in range(200)], ["doc_id", "lang"])
    out = sem_map(docs, "state the language {lang} in uppercase",
                  lm=BatchMarkingLM(r"\[lang\]: «(\w+)»", "upper"))
    got = {(r["doc_id"], r["_map"]) for r in out.collect()}
    assert got == {(i, langs[i % 3].upper()) for i in range(200)}
    sizes = []
    for name in os.listdir(marker_dir):
        with open(os.path.join(marker_dir, name)) as f:
            sizes.append(int(f.read()))
    assert sizes and max(sizes) <= 3, sizes


# ------------------------------------------------------------ long context
def test_truncate_doc_and_split():
    lm = EchoLM()  # count_tokens = len//4 heuristic
    long_doc = "word " * 400  # ~500 tokens
    out = truncate_doc(long_doc, lm, budget_tokens=50)
    assert lm.count_tokens(out) <= 60 and out.endswith("…")
    assert truncate_doc("short", lm, 50) == "short"

    pieces = split_tokenwise(long_doc.strip(), lm, budget_tokens=100)
    assert len(pieces) > 1
    assert all(lm.count_tokens(p) <= 110 for p in pieces)
    assert " ".join(pieces).split() == long_doc.split()  # lossless

    flat = apply_long_context([long_doc, "tiny"], lm, 100, strategy="chunk")
    assert len(flat) > 2
    with pytest.raises(ValueError):
        apply_long_context(["x"], lm, 10, strategy="explode")


def test_chunk_column_explodes_distributed(spark):
    lm = EchoLM()
    df = spark.createDataFrame(
        [(1, "word " * 400), (2, "small doc")], ["id", "body"]
    )
    out = chunk_column(df, "body", lm, budget_tokens=100)
    rows = out.collect()
    small = [r for r in rows if r["id"] == 2]
    assert len(small) == 1 and small[0]["_chunk_of"] == 1
    big = sorted((r for r in rows if r["id"] == 1), key=lambda r: r["_chunk_id"])
    assert len(big) > 1
    assert big[0]["_chunk_of"] == len(big)
    assert [r["_chunk_id"] for r in big] == list(range(len(big)))


# ---------------------------------------------------------- cost estimation
def test_estimate_semantic_cost_and_safe_mode(spark, capsys):
    import lotus_spark as ls
    from lotus_spark.estimate import estimate_semantic_cost
    from lotus_spark.models import KeywordBoolLM
    from lotus_spark.session import settings

    df = spark.createDataFrame([(f"doc {i} " + "w " * 20,) for i in range(40)],
                               ["Text"])
    lm = KeywordBoolLM("doc")
    est = estimate_semantic_cost(df, ["Text"], "{Text} is relevant", lm,
                                 op="sem_filter")
    assert est["rows"] == 40 and est["lm_calls"] == 40
    assert est["est_prompt_tokens"] > 40 * 60  # overhead counted per call

    right = spark.createDataFrame([("a",), ("b",)], ["K"])
    est_j = estimate_semantic_cost(df, ["Text"], "join", lm, op="sem_join",
                                   right_df=right)
    assert est_j["lm_calls"] == 80

    est_c = estimate_semantic_cost(df, ["Text"], "x", lm, op="sem_map",
                                   price_per_1k_prompt=0.15)
    assert est_c["est_cost_usd"] > 0

    # safe_mode: estimate logged to stderr before the stage runs
    settings.safe_mode = True
    try:
        out = ls.sem_filter(df, "{Text} is relevant", lm=lm)
        n = out.count()
        captured = capsys.readouterr()
        assert "safe_mode" in captured.err and "'lm_calls': 40" in captured.err
        assert n == 40
    finally:
        settings.safe_mode = False


def test_litellm_client_accumulates_usage_and_cost(monkeypatch):
    """LiteLLMClient fills UsageStats from each response — token counts
    from response.usage and dollars via litellm.completion_cost (reference
    lotus/pricing.py::calculate_cost_from_response); a model missing from
    the pricing DB contributes 0 cost without failing the batch."""
    import sys
    import types

    from lotus_spark.models.lm import LiteLLMClient

    def mk_resp(text, pt, ct):
        return types.SimpleNamespace(
            choices=[types.SimpleNamespace(
                message=types.SimpleNamespace(content=text))],
            usage=types.SimpleNamespace(prompt_tokens=pt,
                                        completion_tokens=ct),
        )

    fake = types.ModuleType("litellm")
    fake.batch_completion = lambda model, messages, temperature, \
        max_tokens, api_base, **kw: [mk_resp(f"r{i}", 10, 5)
                                     for i in range(len(messages))]
    fake.completion_cost = lambda completion_response: 0.001
    monkeypatch.setitem(sys.modules, "litellm", fake)

    lm = LiteLLMClient(model="fake-model")
    out = lm([[{"role": "user", "content": "a"}],
              [{"role": "user", "content": "b"}]])
    assert out.outputs == ["r0", "r1"]
    assert lm.usage.prompt_tokens == 20
    assert lm.usage.completion_tokens == 10
    assert abs(lm.usage.cost - 0.002) < 1e-12

    def no_pricing(completion_response):
        raise RuntimeError("model not in pricing DB")

    fake.completion_cost = no_pricing
    lm([[{"role": "user", "content": "c"}]])
    assert lm.usage.prompt_tokens == 30          # tokens still counted
    assert abs(lm.usage.cost - 0.002) < 1e-12    # cost unchanged, no raise


def test_litellm_rm_with_fake_transport():
    """LiteLLMRM (reference litellm_rm.py parity): batching, truncation,
    index-ordered assembly — hermetic via an injected transport."""
    import numpy as np

    from lotus_spark.models import LiteLLMRM

    calls = []

    def transport(model, input):
        calls.append(list(input))
        # return out of order to prove index-based reassembly
        data = [
            {"index": i, "embedding": [float(len(t)), float(i)]}
            for i, t in enumerate(input)
        ][::-1]
        return {"data": data}

    rm = LiteLLMRM(model="fake-embed", max_batch_size=2, truncate_limit=3,
                   transport=transport)
    out = rm(["aaaaa", "b", "cc", "ddd", "e"])
    assert out.shape == (5, 2)
    assert rm.dim == 2
    # truncate_limit=3 applied before embedding: len("aaaaa"[:3]) == 3
    np.testing.assert_array_equal(out[0], [3.0, 0.0])
    np.testing.assert_array_equal(out[1], [1.0, 1.0])
    # batches of at most 2 (indices restart per batch)
    assert [len(c) for c in calls] == [2, 2, 1]


def test_litellm_rm_drives_embedding_ops(spark):
    """LiteLLMRM plugs into the with_embeddings / sem_search path."""
    from lotus_spark.models import LiteLLMRM
    from lotus_spark.operators.sem_index import with_embeddings

    def transport(model, input):
        return {"data": [
            {"index": i, "embedding": [float(t.count("a")), 1.0]}
            for i, t in enumerate(input)
        ]}

    rm = LiteLLMRM(transport=transport)
    df = spark.createDataFrame([("aaa",), ("b",)], ["t"])
    out = with_embeddings(df, "t", rm, "emb").collect()
    got = {r["t"]: r["emb"] for r in out}
    assert got["aaa"] == [3.0, 1.0] and got["b"] == [0.0, 1.0]


def test_colbert_rm_hash_backend_roundtrip(tmp_path):
    """ColBERTv2RM surface (reference colbertv2_rm.py): index → persist →
    load_index in a fresh instance → late-interaction MaxSim search."""
    from lotus_spark.models import ColBERTv2RM

    docs = [
        "spark engine for big data",
        "cooking pasta with tomato sauce",
        "distributed query engine internals",
        "gardening tips for spring",
    ]
    rm = ColBERTv2RM(backend="hash")
    rm.index(docs, str(tmp_path / "cidx"))
    out = rm("query engine", K=2)
    assert len(out.indices[0]) == 2
    top = {docs[i] for i in out.indices[0]}
    assert "distributed query engine internals" in top
    assert out.distances[0] == sorted(out.distances[0], reverse=True)

    rm2 = ColBERTv2RM(backend="hash")
    rm2.load_index(str(tmp_path / "cidx"))
    out2 = rm2(["query engine", "pasta recipe"], K=2)
    assert out2.indices[0] == out.indices[0]
    assert out2.distances[0] == out.distances[0]
    assert docs[1] == docs[out2.indices[1][0]]  # pasta doc tops query 2

    with pytest.raises(ValueError, match="no index"):
        ColBERTv2RM(backend="hash")("q", K=1)


def test_litellm_client_model_aware_token_defaults():
    """Reasoning models (gpt-5 / o-series) get the larger default
    completion budget — a flat 512 starves hidden reasoning tokens and
    sem_filter coerces the resulting empty answers (reference
    lm.py:72-78 / issue #255). Explicit max_tokens always wins."""
    from lotus_spark.models.lm import (
        DEFAULT_MAX_TOKENS,
        DEFAULT_REASONING_MAX_TOKENS,
        LiteLLMClient,
    )

    assert LiteLLMClient(model="gpt-4o-mini").max_tokens == DEFAULT_MAX_TOKENS
    assert LiteLLMClient(model="gpt-5").max_tokens == \
        DEFAULT_REASONING_MAX_TOKENS
    o3 = LiteLLMClient(model="o3")
    assert o3.is_reasoning_model()
    assert o3.max_tokens == DEFAULT_REASONING_MAX_TOKENS
    # provider-prefixed ids resolve on the base name
    assert LiteLLMClient(model="openai/o3-mini").max_tokens == \
        DEFAULT_REASONING_MAX_TOKENS
    # explicit values win on both families
    assert LiteLLMClient(model="gpt-5", max_tokens=1000).max_tokens == 1000
    assert LiteLLMClient(model="gpt-4o-mini", max_tokens=1024).max_tokens == 1024


def test_answer_cache_pipeline_skips_lm_calls(spark, tmp_path):
    """The composed answer-cache pipeline (the oracle row
    __spark_entry__.q_answer_cache_map) really short-circuits the LM:
    running sem_map on only the cache MISSES sends the LM only miss
    prompts — exactly one per partition that holds misses, since all
    misses render one prompt — and ZERO for the cached rows. Counted via
    marker files named by partition id because executor-side pandas-UDF
    calls are invisible to driver-side usage counters."""
    import os
    import uuid

    from pyspark import TaskContext
    from pyspark.sql import functions as F

    from lotus_spark import sem_map
    from lotus_spark.models.cache import join_answer_cache
    from lotus_spark.models.fake_lm import RegexMapLM

    marker_dir = str(tmp_path / "calls")
    os.makedirs(marker_dir)

    class MarkingMapLM(RegexMapLM):
        def __init__(self):
            super().__init__(r"\[lang\]: «(\w+)»", "upper")
            inner = self.fn

            def fn(prompt):
                part = TaskContext.get().partitionId()
                name = f"{part}-{uuid.uuid4().hex}"
                with open(os.path.join(marker_dir, name), "w") as f:
                    f.write(prompt)
                return inner(prompt)

            self.fn = fn

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(40)],
        ["doc_id", "lang"],
    )
    instr = "state the language {lang} in uppercase"
    cache = spark.createDataFrame([("en", "EN")], ["lang", "answer"]).select(
        F.sha2(F.col("lang"), 256).alias("prompt_hash"), "answer")

    hits, misses = join_answer_cache(docs, "lang", cache,
                                     answer_col="answer")
    assert hits.count() == 20 and misses.count() == 20

    out = sem_map(misses, instr, lm=MarkingMapLM()).withColumnRenamed(
        "_map", "answer")
    rows = {(r["doc_id"], r["answer"]) for r in out.collect()}
    assert rows == {(i, "DE") for i in range(40) if i % 2 == 0}
    def prompts_sent():
        out = []
        for name in os.listdir(marker_dir):
            with open(os.path.join(marker_dir, name)) as f:
                out.append(f.read())
        return out

    # only MISS rows reach the LM, once per partition (the 20 misses
    # share one prompt, so each batch sends it once); the 20 cached rows
    # cost zero. A second sem_map pass over the misses would repeat a
    # partition id, and broken dedup would send several per partition.
    sent = prompts_sent()
    parts = {n.split("-")[0] for n in os.listdir(marker_dir)}
    assert 1 <= len(sent) == len(parts)
    assert all("«de»" in p and "«en»" not in p for p in sent)

    # hit rows carry the cached answers without any LM involvement
    got_hits = {(r["doc_id"], r["answer"]) for r in hits.collect()}
    assert got_hits == {(i, "EN") for i in range(40) if i % 2 == 1}
    assert len(prompts_sent()) == len(sent)  # no new calls
