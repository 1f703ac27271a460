"""LM client interface.

The reference's ``LM.__call__`` takes a *batch* of message-lists and returns
``LMOutput(outputs, logprobs)`` with caching + usage accounting
(``lotus/models/lm.py:169-236``). We keep that contract: semantic operators
always call the LM with the whole Arrow batch so a real client can fan out
concurrently (async HTTP) while fakes answer synchronously.

Scale design: LM objects must be cheaply picklable (config only). Any network
client is created lazily on first call *inside the executor process* — the
object crosses the driver→executor boundary as pure config. Concurrency model
on a cluster = (#partitions running) × (per-partition async fan-out), with
RPM/TPM budgets enforced per-executor (global limits are documented to need a
partition cap, as in SURVEY §4.3).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

from lotus_spark.models.cache import cache_key

Messages = list[dict]  # [{"role": "...", "content": "..."}]


@dataclass
class UsageStats:
    prompt_tokens: int = 0
    completion_tokens: int = 0
    total_calls: int = 0
    virtual_calls: int = 0  # includes cache hits
    cost: float = 0.0

    def add(self, other: "UsageStats") -> None:
        self.prompt_tokens += other.prompt_tokens
        self.completion_tokens += other.completion_tokens
        self.total_calls += other.total_calls
        self.virtual_calls += other.virtual_calls
        self.cost += other.cost


@dataclass
class LMOutput:
    outputs: list[str]
    # per-output token logprob maps for cascade confidence scoring:
    # list of {token: logprob} for the first generated token, or None
    logprobs: Optional[list[Optional[dict[str, float]]]] = None


def _code_fingerprint(code: Any) -> str:
    """Deterministic digest of a code object's behavior-relevant parts:
    bytecode + referenced names (``co_names``/``co_freevars`` — two
    bodies that differ only in WHICH global they call share co_code, the
    name lives in co_names) + consts, recursing into nested code objects
    whose repr would otherwise embed a memory address. Set/frozenset
    consts hash in sorted element order — their iteration order follows
    per-process string-hash randomization, and a seed-dependent digest
    would quietly turn every cross-run checkpoint resume into a miss."""
    import hashlib

    h = hashlib.blake2b(digest_size=8)

    def feed_const(const: Any) -> None:
        if hasattr(const, "co_code"):
            feed(const)
        elif isinstance(const, (set, frozenset)):
            h.update(b"{")
            for part in sorted(repr(e) for e in const):
                h.update(part.encode("utf-8", "replace"))
            h.update(b"}")
        elif isinstance(const, tuple):
            h.update(b"(")
            for e in const:
                feed_const(e)
            h.update(b")")
        else:
            h.update(repr(const).encode("utf-8", "replace"))

    def feed(c: Any) -> None:
        h.update(c.co_code)
        for name in c.co_names + c.co_freevars:
            h.update(name.encode("utf-8", "replace"))
        for const in c.co_consts:
            feed_const(const)

    feed(code)
    return h.hexdigest()


def callable_token(fn: Any) -> str:
    """``module.qualname#bytecode-digest`` identity for a callable.

    The digest means editing a function's *body* between runs changes its
    checkpoint identity — qualname-only keys silently resumed stale
    checkpoints computed with the old code (round-4 advice). Callables
    without reachable bytecode (builtins, C extensions) degrade to
    name-only, which is still cross-process stable."""
    import functools

    if isinstance(fn, functools.partial):
        inner = callable_token(fn.func)
        args = ",".join(_value_token(a) for a in fn.args)
        kw = ",".join(
            f"{k}={_value_token(v)}" for k, v in sorted(fn.keywords.items())
        )
        return f"partial({inner};{args};{kw})"
    name = (f"{getattr(fn, '__module__', '?')}."
            f"{getattr(fn, '__qualname__', type(fn).__qualname__)}")
    code = getattr(fn, "__code__", None)
    if code is None and not isinstance(fn, type):
        # callable instance: fingerprint its class's __call__
        code = getattr(getattr(type(fn), "__call__", None), "__code__", None)
    if code is not None:
        try:
            name += f"#{_code_fingerprint(code)}"
        except Exception:
            pass
    return name


def _value_token(v: Any, _depth: int = 0) -> str:
    """Cross-process-stable string identity for one config value,
    applied recursively inside containers (a raw ``repr`` of a list
    element with the default object repr would embed a memory address
    and silently defeat cross-run checkpoint resume). Objects with a
    default (address-bearing) repr tokenize as class identity PLUS their
    public attrs via :func:`stable_config_token` — class identity alone
    would collapse two different configs of the same class onto one
    checkpoint key, a silent false HIT. Depth-capped against cyclic
    object graphs."""
    if isinstance(v, (str, int, float, bool, type(None))):
        return repr(v)
    ck = getattr(v, "cache_key", None)
    if callable(ck):
        return str(ck())
    if callable(v):
        return callable_token(v)
    if isinstance(v, dict):
        items = sorted(v.items(), key=lambda kv: str(kv[0]))
        return ("{" + ",".join(
            f"{_value_token(k, _depth)}:{_value_token(x, _depth)}"
            for k, x in items) + "}")
    if isinstance(v, (list, tuple)):
        body = ",".join(_value_token(x, _depth) for x in v)
        return f"[{body}]" if isinstance(v, list) else f"({body})"
    if isinstance(v, (set, frozenset)):
        return "{" + ",".join(sorted(_value_token(x, _depth) for x in v)) + "}"
    r = repr(v)
    if " at 0x" not in r:
        return r
    cls = f"{type(v).__module__}.{type(v).__qualname__}"
    if _depth >= 4:  # cycle/pathology guard: degrade to class identity
        return cls
    return f"{cls}({stable_config_token(v, _depth=_depth + 1)})"


def stable_config_token(obj: Any, _depth: int = 0) -> str:
    """Sorted public config of ``obj`` as a cross-process-stable string —
    the single shared implementation behind ``LM.cache_key``,
    ``RM.cache_key`` and the LazyFrame checkpoint-key hasher (they MUST
    stay in lockstep or checkpoint keys drift).

    Primitives verbatim; callables via :func:`callable_token`
    (name + bytecode digest); containers recursively tokenized element
    by element; other objects by their own ``cache_key()`` when present,
    else class identity (documented residual collision risk: config
    hidden inside an opaque object exposing neither ``__dict__`` nor
    ``cache_key()``). ``__slots__`` classes are walked via their slots —
    ``vars()`` would raise TypeError on them. Runtime counters
    (``UsageStats``) are EXCLUDED: they mutate as the model is used, and
    including them made an LM's identity change between the first and
    second execution of the same plan — every checkpoint prefix missed
    and the LLM stages re-paid in full."""
    d = getattr(obj, "__dict__", None)
    if d is None:
        d = {
            s: getattr(obj, s)
            for s in getattr(type(obj), "__slots__", ())
            if isinstance(s, str) and hasattr(obj, s)
        }
    parts = []
    for k, v in sorted(d.items()):
        if k.startswith("_") or isinstance(v, UsageStats):
            continue
        parts.append(f"{k}={_value_token(v, _depth)}")
    return "{" + ",".join(parts) + "}"


class LM:
    """Abstract batched LM client."""

    model: str = "abstract"
    max_batch_size: int = 64
    max_ctx_len: int = 128_000
    max_tokens: int = 512

    def __init__(self) -> None:
        self.usage = UsageStats()

    def __call__(self, batch: list[Messages], **kwargs: Any) -> LMOutput:
        raise NotImplementedError

    def count_tokens(self, text: str) -> int:
        # cheap deterministic approximation (≈ GPT tokenization density);
        # real clients may override with a tokenizer.
        return max(1, len(text) // 4)

    def cache_key(self) -> str:
        """Stable cross-process identity for plan/checkpoint addressing
        (class + model + sorted public config — never the default
        ``repr`` whose memory address changes every run)."""
        return (f"{type(self).__qualname__}:{self.model}:"
                f"{stable_config_token(self)}")


def call_distinct(lm: Any, batch: list[Messages], **kwargs: Any) -> LMOutput:
    """Call ``lm`` once per DISTINCT message list in ``batch``.

    Rows whose messages are identical (keyed by ``cache.cache_key``, the
    request key ``CachedLM`` looks answers up by) share the answer — and
    logprobs — of the first such row, as the reference's prompt cache
    would give them (``lotus/models/lm.py:169-236``); the copies count as
    ``usage.virtual_calls`` like ``CachedLM`` hits. A sampling call
    (effective ``temperature`` > 0, from ``kwargs`` or else the LM) is
    passed through whole: repeated rows there must draw independently.

    The dedup is one ``lm(...)`` call on fewer rows, so caching and
    rate-limiting wrappers compose unchanged and see only distinct
    requests. Every semantic operator's batched LM call goes through here.
    """
    if (kwargs.get("temperature", getattr(lm, "temperature", 0.0)) or 0) > 0:
        return lm(batch, **kwargs)
    model = getattr(lm, "model", "")
    slot_of: dict[str, int] = {}
    first: list[int] = []   # batch row of each distinct prompt
    slots: list[int] = []   # per row: index of its prompt in ``first``
    for i, msgs in enumerate(batch):
        key = cache_key(model, msgs, kwargs)
        j = slot_of.setdefault(key, len(first))
        if j == len(first):
            first.append(i)
        slots.append(j)
    out = lm([batch[i] for i in first], **kwargs)
    usage = getattr(lm, "usage", None)
    if usage is not None:
        usage.virtual_calls += len(batch) - len(first)
    logprobs = out.logprobs
    return LMOutput(
        outputs=[out.outputs[j] for j in slots],
        logprobs=None if logprobs is None else [logprobs[j] for j in slots],
    )


# Reasoning models (gpt-5, o-series) spend hidden reasoning tokens from the
# same completion budget as the visible answer; a flat 512 default could
# exhaust the budget before any visible text, and sem_filter would silently
# coerce the empty answer to its default for every affected row (reference
# lotus/models/lm.py:72-78, issue #255).
DEFAULT_MAX_TOKENS = 512
DEFAULT_REASONING_MAX_TOKENS = 8192

# prefixes used only when litellm's own supports_reasoning() is unavailable
# (config-only environments); litellm's maintained mapping wins when present
_REASONING_MODEL_PREFIXES = ("gpt-5", "o1", "o3", "o4")


class LiteLLMClient(LM):
    """Real LM backed by litellm (optional dependency, lazily imported).

    Mirrors the reference client's behavior: batch of message-lists →
    concurrent completions, temperature 0 default, logprobs passthrough,
    model-aware completion-token defaults (reasoning models get
    ``DEFAULT_REASONING_MAX_TOKENS``; an explicit ``max_tokens`` always
    wins). The litellm import happens on first call so this class can be
    shipped to executors as config even when litellm is absent on the
    driver.
    """

    def __init__(
        self,
        model: str = "gpt-4o-mini",
        temperature: float = 0.0,
        max_tokens: int | None = None,
        max_batch_size: int = 64,
        api_base: str | None = None,
        **default_kwargs: Any,
    ) -> None:
        super().__init__()
        self.model = model
        self.temperature = temperature
        if max_tokens is None:
            max_tokens = (
                DEFAULT_REASONING_MAX_TOKENS if self.is_reasoning_model()
                else DEFAULT_MAX_TOKENS
            )
        self.max_tokens = max_tokens
        self.max_batch_size = max_batch_size
        self.api_base = api_base
        self.default_kwargs = default_kwargs

    def is_reasoning_model(self) -> bool:
        """Whether the model spends hidden reasoning tokens from the
        completion budget (reference ``lm.py:679-689``): litellm's
        maintained ``supports_reasoning`` mapping when importable, else a
        conservative name-prefix heuristic so config-only environments
        (no litellm on the driver) still size the budget correctly."""
        try:
            try:
                from litellm.utils import supports_reasoning
            except ImportError:
                from litellm import supports_reasoning
            return bool(supports_reasoning(model=self.model))
        except Exception:  # noqa: BLE001 - litellm absent/old/unknown model
            base = self.model.rsplit("/", 1)[-1].lower()
            return base.startswith(_REASONING_MODEL_PREFIXES)

    def __call__(self, batch: list[Messages], **kwargs: Any) -> LMOutput:
        try:
            import litellm  # type: ignore
        except ImportError as e:  # pragma: no cover - env without litellm
            raise RuntimeError(
                "litellm is not installed; use a FakeLM for hermetic runs or "
                "install litellm for live model calls"
            ) from e
        merged = {**self.default_kwargs, **kwargs}
        responses = litellm.batch_completion(
            model=self.model,
            messages=batch,
            temperature=merged.pop("temperature", self.temperature),
            max_tokens=merged.pop("max_tokens", self.max_tokens),
            api_base=self.api_base,
            **merged,
        )
        outputs = [r.choices[0].message.content or "" for r in responses]
        self.usage.total_calls += len(batch)
        self.usage.virtual_calls += len(batch)
        for r in responses:
            u = getattr(r, "usage", None)
            if u is not None:
                self.usage.prompt_tokens += getattr(u, "prompt_tokens", 0) or 0
                self.usage.completion_tokens += (
                    getattr(u, "completion_tokens", 0) or 0
                )
            # litellm's maintained pricing DB (reference
            # lotus/pricing.py:calculate_cost_from_response); unpriced
            # models contribute 0 rather than failing the batch
            try:
                c = litellm.completion_cost(completion_response=r)
                self.usage.cost += float(c or 0.0)
            except Exception:  # noqa: BLE001 - model absent from pricing DB
                pass
        return LMOutput(outputs=outputs)

    def __getstate__(self):
        d = dict(self.__dict__)
        d["usage"] = UsageStats()  # don't ship accumulated usage to executors
        return d
