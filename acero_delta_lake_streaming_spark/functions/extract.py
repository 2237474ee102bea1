"""UD1/UD2/UD3 — the LLM extraction operator, Spark-first.

The reference's centerpiece is a per-article, sequential, blocking OpenAI
function-call that parses into Pydantic ``EventResponse`` objects
(/root/reference/news_insights/processor.py:63-121; its README flags the
sequential calls as the bottleneck). Here the same semantics become one
Arrow-batched ``mapInPandas`` stage:

* the Python worker receives **whole Arrow batches** and makes one
  provider call per batch (a real provider would fan the batch out
  async — the seam is ``ExtractionProvider.extract_batch``);
* the worker returns only ``(doc_id, raw_response)`` strings — schema
  parsing on the executors happens JVM-side with
  ``from_json(EVENT_RESPONSE_SCHEMA)`` (:func:`parse_events`), so
  malformed model output degrades to a NULL struct instead of a Python
  exception (UD3: quarantine, never crash the stream —
  collector.py:186-187 skips failed rows the same way);
* flattening (UD2) is ``explode`` over the two actor arrays with an
  ``is_main_actor`` discriminator — the exact shape of
  collector.py:168-206's Python loops, minus the loops.

A batch already collected on the driver (a small streaming epoch,
``streaming/ingest.py``) skips the Python worker: ``extract_local``
makes the one provider call in the driver process. When every payload
is *plain* (:func:`parse_plain`), the driver parses them in Python, as
the reference parses in-process (processor.py); any other payload
sends the batch through ``parse_events`` over a local relation, because
``from_json`` is lenient where Python's ``json`` is not (single quotes,
trailing junk, numbers read as strings, partial structs).

Providers:
* ``MockExtractionProvider`` — deterministic, hermetic: actors come from
  the first words of the text, the category from an md5 digit, and a 1/16
  md5-gated slice of inputs "fails" with non-JSON output. Every rule is
  mirrorable in SQL, which is what makes the whole UD1→UD2→UD3 pipeline
  oracle-checkable end to end.
* ``HttpExtractionProvider`` — the production seam: posts batches to an
  OpenAI-compatible ``/chat/completions`` endpoint configured via
  ``base_url``. Network access is deliberately not exercised in tests.

At 100 TB: the scan before this stage projects only (id, text) — keep
the LLM stage behind a narrow projection so column pruning holds; batch
size is Arrow's ``maxRecordsPerBatch``; executor-side concurrency scales
with cores, not driver round-trips.
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Iterator
from typing import Protocol

import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from acero_delta_lake_streaming_spark.catalog import load_table
from acero_delta_lake_streaming_spark.schemas import (
    ACTOR_STRUCT,
    EVENT_CATEGORIES,
    EVENT_RESPONSE_SCHEMA,
)


class ExtractionProvider(Protocol):
    """One batched LLM round-trip: texts in, raw model payloads out.

    Implementations must be picklable: :func:`extract_events` ships
    them to the executors' Python workers, while :func:`extract_local`
    calls them in the driver process. Either way they must return one
    string per input — never raise for a bad row (UD3).

    A provider whose calls wait on a remote service declares
    ``max_concurrency``, the requests one call keeps in flight
    (:class:`HttpExtractionProvider`); one without it computes
    in-process. See :func:`request_concurrency`."""

    def extract_batch(self, texts: pd.Series) -> list[str]: ...


def request_concurrency(provider: ExtractionProvider | None) -> int | None:
    """The requests one ``extract_batch`` call of ``provider`` keeps in
    flight, or None when it computes in-process. A wrapper
    (:class:`RetryingProvider`, :class:`TransientFlakyProvider`)
    reports the provider it holds in ``inner``."""
    while provider is not None:
        concurrency = getattr(provider, "max_concurrency", None)
        if concurrency is not None:
            return concurrency
        provider = getattr(provider, "inner", None)
    return None


class MockExtractionProvider:
    """Deterministic stand-in for the LLM (hermetic tests + oracle).

    Rules (each mirrored in the SQL oracles below):
    * md5(text)[0] == 'f'   → non-JSON "model refusal" (→ quarantine)
    * main_actors  = word0/subject, word1/object
    * other_actors = word2/mention
    * category     = EVENT_CATEGORIES[int(md5(text)[1], 16) % 5]
    """

    def extract_batch(self, texts: pd.Series) -> list[str]:
        out = []
        for text in texts:
            h = hashlib.md5(text.encode("utf-8")).hexdigest()
            if h[0] == "f":
                out.append("ERROR: model refused to produce JSON")
                continue
            words = [w for w in text.split(" ") if w]
            main = []
            if len(words) >= 1:
                main.append({"name": words[0], "role": "subject"})
            if len(words) >= 2:
                main.append({"name": words[1], "role": "object"})
            other = (
                [{"name": words[2], "role": "mention"}] if len(words) >= 3 else []
            )
            out.append(
                json.dumps(
                    {
                        "main_actors": main,
                        "other_actors": other,
                        "category": EVENT_CATEGORIES[int(h[1], 16) % 5],
                    }
                )
            )
        return out


_SYSTEM_PROMPT = (
    "You are a structured information extraction engine. Identify the "
    "specific named actors in the article (full official names, never "
    "generic terms), split them into main and other actors with their "
    "roles, and classify the event category."
)


class HttpExtractionProvider:
    """OpenAI-wire chat-completions provider (the production seam).

    Speaks the exact wire contract of the reference's processor
    (processor.py:99-117): POST ``{base_url}/chat/completions`` with a
    forced ``extract_event`` function call, read the arguments JSON off
    ``choices[0].message.tool_calls[0].function.arguments``. Differences
    from the reference are deliberate:

    * **batch-concurrent**: the Arrow batch fans out over a small thread
      pool inside the executor worker (the calls are network-bound; the
      reference's sequential per-article loop was its self-identified
      bottleneck);
    * **never raises** (UD3): a transport error or a reply without a tool
      call returns a non-JSON marker string, so the row quarantines
      downstream instead of killing the stage.

    Requires an explicit ``base_url``; this container has no network, so
    construction without one raises rather than silently degrading. The
    wire shape itself is pinned by a stub-server test
    (tests/test_extract.py).
    """

    def __init__(
        self,
        base_url: str,
        model: str = "gpt-4-turbo",
        api_key: str | None = None,
        timeout: int = 30,
        max_concurrency: int = 8,
        temperature: float = 0.3,
    ):
        if not base_url:
            raise ValueError(
                "HttpExtractionProvider needs an explicit base_url; "
                "use MockExtractionProvider for hermetic runs"
            )
        self.base_url = base_url.rstrip("/")
        self.model = model
        self.api_key = api_key
        self.timeout = timeout
        self.max_concurrency = max_concurrency
        self.temperature = temperature

    def _request_one(self, text: str) -> str:
        import urllib.request

        from acero_delta_lake_streaming_spark.schemas import (
            EVENT_RESPONSE_JSON_SCHEMA,
        )

        payload = json.dumps(
            {
                "model": self.model,
                "messages": [
                    {"role": "system", "content": _SYSTEM_PROMPT},
                    {"role": "user", "content": text},
                ],
                "tools": [
                    {
                        "type": "function",
                        "function": {
                            "name": "extract_event",
                            "description": (
                                "Extracts actors from a news article and "
                                "classifies the event type."
                            ),
                            "parameters": EVENT_RESPONSE_JSON_SCHEMA,
                        },
                    }
                ],
                "tool_choice": {
                    "type": "function",
                    "function": {"name": "extract_event"},
                },
                "temperature": self.temperature,
            }
        ).encode("utf-8")
        headers = {"Content-Type": "application/json"}
        if self.api_key:
            headers["Authorization"] = f"Bearer {self.api_key}"
        req = urllib.request.Request(
            f"{self.base_url}/chat/completions", data=payload, headers=headers
        )
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            body = json.load(resp)
        calls = body["choices"][0]["message"].get("tool_calls") or []
        if not calls:
            return "ERROR: model reply contained no tool call"
        args = calls[0]["function"]["arguments"]
        return args if isinstance(args, str) else json.dumps(args)

    def extract_batch(self, texts: pd.Series) -> list[str]:
        from concurrent.futures import ThreadPoolExecutor

        def safe(text: str) -> str:
            import urllib.error

            try:
                return self._request_one(text)
            except urllib.error.HTTPError as exc:
                # rate limits and server-side failures are TRANSIENT —
                # a RetryingProvider wrapper re-attempts them; client
                # errors (bad request/auth) are final and quarantine
                if exc.code == 429 or exc.code >= 500:
                    return f"{TRANSIENT_MARKER} HTTP {exc.code}"
                return f"ERROR: HTTP {exc.code}"
            except (urllib.error.URLError, TimeoutError, OSError) as exc:
                return f"{TRANSIENT_MARKER} {exc}"
            except Exception as exc:  # noqa: BLE001 — quarantine, not crash
                return f"ERROR: {exc}"

        items = list(texts)
        if not items:
            return []
        with ThreadPoolExecutor(
            max_workers=min(self.max_concurrency, len(items))
        ) as pool:
            return list(pool.map(safe, items))


#: response prefix marking a retryable failure (rate limit, 5xx,
#: transport) — anything else is final: valid JSON extracts, other
#: ERROR strings quarantine (UD3's permanent-failure path)
TRANSIENT_MARKER = "ERROR: transient"


class RetryingProvider:
    """UD4 — bounded retry with exponential backoff around any
    :class:`ExtractionProvider`: responses starting with
    ``TRANSIENT_MARKER`` (HTTP 429/5xx, transport errors) are re-sent —
    ONLY those rows, up to ``max_retries`` more attempts — while
    permanent errors (model refusals, 4xx) flow straight to the UD3
    quarantine. This is the error taxonomy a production LLM pipeline
    needs: retrying a refusal wastes tokens forever, quarantining a
    rate limit throws away a recoverable row. Retries happen INSIDE the
    Arrow batch on the executor (no row ever bounces back through the
    driver), and the whole wrapper stays deterministic under a
    deterministic inner provider — the property the ud4 hash gate
    certifies."""

    def __init__(
        self,
        inner: ExtractionProvider,
        max_retries: int = 2,
        backoff_s: float = 0.0,
    ):
        self.inner = inner
        self.max_retries = max_retries
        self.backoff_s = backoff_s

    def _call_inner(self, items: list, attempt: int) -> list[str]:
        series = pd.Series(items, dtype=object)
        # chaos doubles implement the attempt-aware form so their
        # failure schedule is a pure function of (text, attempt) — no
        # cross-call state, which would misfire on duplicate texts
        fn = getattr(self.inner, "extract_batch_attempt", None)
        if fn is not None:
            return fn(series, attempt)
        return self.inner.extract_batch(series)

    def extract_batch_with_attempts(
        self, texts: pd.Series
    ) -> tuple[list[str], list[int]]:
        import time as _time

        items = list(texts)
        out = self._call_inner(items, 0)
        attempts = [1] * len(items)
        for k in range(self.max_retries):
            idx = [
                i for i, r in enumerate(out) if r.startswith(TRANSIENT_MARKER)
            ]
            if not idx:
                break
            if self.backoff_s:
                _time.sleep(self.backoff_s * (2**k))
            retried = self._call_inner([items[i] for i in idx], k + 1)
            for i, r in zip(idx, retried):
                out[i] = r
                attempts[i] += 1
        return out, attempts

    def extract_batch(self, texts: pd.Series) -> list[str]:
        return self.extract_batch_with_attempts(texts)[0]


class TransientFlakyProvider:
    """Deterministic chaos double: attempt 0 for any text whose md5
    third hex digit is < '8' (i.e. half the corpus) fails with a
    transient marker; later attempts delegate to ``inner``. The failure
    schedule is a pure function of (text, attempt) — md5-derived so the
    DuckDB oracle replays exactly which rows needed a retry, and
    STATELESS so duplicate texts each fail their own first attempt (a
    seen-set keyed on text hash misfired on the corpus's planted
    duplicate documents — found at sf0.1)."""

    def __init__(self, inner: ExtractionProvider):
        self.inner = inner

    def extract_batch_attempt(
        self, texts: pd.Series, attempt: int
    ) -> list[str]:
        if attempt == 0:
            out = []
            inner_out = self.inner.extract_batch(texts)
            for text, r in zip(texts, inner_out):
                h = hashlib.md5(text.encode("utf-8")).hexdigest()
                if h[2] < "8":
                    out.append(f"{TRANSIENT_MARKER} 503 service overloaded")
                else:
                    out.append(r)
            return out
        return self.inner.extract_batch(texts)

    def extract_batch(self, texts: pd.Series) -> list[str]:
        return self.extract_batch_attempt(texts, 0)


# --------------------------------------------------------------------------
# Cross-encoder reranker provider seam (x76)
# --------------------------------------------------------------------------


class CrossEncoderProvider(Protocol):
    """One batched cross-encoder round-trip: a query plus doc texts in,
    raw score payloads out — the (query, doc)-pair twin of
    :class:`ExtractionProvider`. Implementations must be picklable
    (they ship to executors) and must return one string per input text,
    never raising for a bad row (the UD3 rule): a valid reply is JSON
    ``{"score_ppm": N}``; anything else quarantines downstream."""

    def score_batch(self, query: str, texts: pd.Series) -> list[str]: ...


class MockCrossEncoderProvider:
    """Deterministic stand-in for a cross-encoder reranker (hermetic
    tests + oracle): the score is a PURE FUNCTION of the (query, text)
    pair, so the DuckDB oracle replays it in SQL and the x76 hash gate
    certifies the whole mapInPandas → JVM-parse → fuse pipeline.

    Rules (mirrored in x76's oracle, operators/retrieval.py):
    * h = md5(query || '|' || text)
    * h[0] == 'f'  → "ERROR: model refused to score" (→ quarantine)
    * else         → ``{"score_ppm": int(h[1:5], 16)}``  (0..65535)
    """

    def score_batch(self, query: str, texts: pd.Series) -> list[str]:
        out = []
        for text in texts:
            h = hashlib.md5(
                f"{query}|{text}".encode("utf-8")
            ).hexdigest()
            if h[0] == "f":
                out.append("ERROR: model refused to score")
            else:
                out.append(json.dumps({"score_ppm": int(h[1:5], 16)}))
        return out


class HttpCrossEncoderProvider:
    """Rerank-wire provider (the production seam): POST
    ``{base_url}/rerank`` with ``{model, query, documents}`` — the
    rerank contract served by hosted cross-encoders — and read
    ``results[i].relevance_score`` back as ``{"score_ppm":
    floor(1e6·score)}`` strings. One request per Arrow batch (the
    rerank wire is natively batched — no per-row fan-out needed).
    Shares :class:`HttpExtractionProvider`'s failure taxonomy and
    never raises: 429/5xx/transport → ``TRANSIENT_MARKER`` rows a
    :class:`RetryingProvider`-style wrapper may re-send; other errors
    → final ``ERROR`` strings that quarantine downstream. Requires an
    explicit ``base_url``; hermetic runs use
    :class:`MockCrossEncoderProvider`."""

    def __init__(
        self,
        base_url: str,
        model: str = "rerank-v3",
        api_key: str | None = None,
        timeout: int = 30,
    ):
        if not base_url:
            raise ValueError(
                "HttpCrossEncoderProvider needs an explicit base_url; "
                "use MockCrossEncoderProvider for hermetic runs"
            )
        self.base_url = base_url.rstrip("/")
        self.model = model
        self.api_key = api_key
        self.timeout = timeout

    def score_batch(self, query: str, texts: pd.Series) -> list[str]:
        import urllib.error
        import urllib.request

        items = list(texts)
        if not items:
            return []
        payload = json.dumps(
            {"model": self.model, "query": query, "documents": items}
        ).encode("utf-8")
        headers = {"Content-Type": "application/json"}
        if self.api_key:
            headers["Authorization"] = f"Bearer {self.api_key}"
        req = urllib.request.Request(
            f"{self.base_url}/rerank", data=payload, headers=headers
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                body = json.load(resp)
            scores: dict[int, float] = {
                int(r["index"]): float(r["relevance_score"])
                for r in (body.get("results") or [])
            }
            return [
                json.dumps({"score_ppm": int(scores[i] * 1000000)})
                if i in scores
                else "ERROR: reply missing document index"
                for i in range(len(items))
            ]
        except urllib.error.HTTPError as exc:
            marker = (
                f"{TRANSIENT_MARKER} HTTP {exc.code}"
                if exc.code == 429 or exc.code >= 500
                else f"ERROR: HTTP {exc.code}"
            )
            return [marker] * len(items)
        except (urllib.error.URLError, TimeoutError, OSError) as exc:
            return [f"{TRANSIENT_MARKER} {exc}"] * len(items)
        except Exception as exc:  # noqa: BLE001 — quarantine, not crash
            return [f"ERROR: {exc}"] * len(items)


def extract_events_with_retry(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    provider: RetryingProvider | None = None,
) -> DataFrame:
    """UD4: like :func:`extract_events` but through a
    :class:`RetryingProvider`, emitting an ``attempts`` column alongside
    the parsed event — the per-row retry accounting an SLO dashboard
    aggregates."""
    provider = provider or RetryingProvider(
        TransientFlakyProvider(MockExtractionProvider())
    )
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, raw_response string, attempts int"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw, attempts = provider.extract_batch_with_attempts(
                pdf[text_col]
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "raw_response": raw,
                    "attempts": pd.array(attempts, dtype="int32"),
                }
            )

    narrow = df.select(id_col, text_col)
    return parse_events(narrow.mapInPandas(run, schema=out_schema))


def parse_events(responses: DataFrame) -> DataFrame:
    """UD1's parse, JVM-side: append the ``event`` struct
    (EVENT_RESPONSE_SCHEMA) parsed from ``raw_response``. NULL ``event``
    == quarantined row (UD3). The executor extraction's parser
    (:func:`extract_events`), the driver route's for a batch that is
    not all plain, and the reference :func:`parse_plain` is tested
    against."""
    parsed = F.from_json("raw_response", EVENT_RESPONSE_SCHEMA)
    # PERMISSIVE from_json yields an all-null struct for non-JSON input;
    # normalize that to a true NULL so "event IS NULL" == quarantined.
    return responses.withColumn(
        "event",
        F.when(
            parsed.getField("category").isNull()
            & parsed.getField("main_actors").isNull()
            & parsed.getField("other_actors").isNull(),
            F.lit(None).cast(EVENT_RESPONSE_SCHEMA),
        ).otherwise(parsed),
    )


def extract_events(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    provider: ExtractionProvider | None = None,
) -> DataFrame:
    """UD1: append an ``event`` struct column (EVENT_RESPONSE_SCHEMA) plus
    the raw payload. NULL ``event`` == quarantined row (UD3)."""
    provider = provider or MockExtractionProvider()
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, raw_response string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "raw_response": provider.extract_batch(pdf[text_col]),
                }
            )

    narrow = df.select(id_col, text_col)
    return parse_events(narrow.mapInPandas(run, schema=out_schema))


def extract_local(
    batch: pa.Table,
    id_col: str = "doc_id",
    text_col: str = "text",
    provider: ExtractionProvider | None = None,
) -> pa.Table:
    """UD1's provider call on the driver, for a batch already collected
    there: ONE ``extract_batch`` call in this process, returned as the
    ``(id_col, raw_response)`` responses the executor stage yields
    (same types, nullable). No Python worker starts; parse them with
    :func:`parse_plain` or, over a local relation, :func:`parse_events`."""
    provider = provider or MockExtractionProvider()
    raw = provider.extract_batch(batch.column(text_col).to_pandas())
    return pa.table(
        [batch.column(id_col), pa.array(raw, pa.string())],
        # nullable, as the executor stage's declared output schema is
        schema=pa.schema([
            pa.field(id_col, batch.schema.field(id_col).type),
            pa.field("raw_response", pa.string()),
        ]),
    )


_EVENT_KEYS = frozenset(EVENT_RESPONSE_SCHEMA.fieldNames())
_ACTOR_KEYS = frozenset(ACTOR_STRUCT.fieldNames())


class _NotPlain(Exception):
    """A payload whose parse by ``from_json`` Python does not reproduce."""


def _unique_keys(pairs: list) -> dict:
    obj = dict(pairs)
    if len(obj) != len(pairs):
        raise _NotPlain  # from_json's duplicate-key rule is its own
    return obj


def _plain_str(value) -> str | None:
    if value is None:
        return None
    if not isinstance(value, str):
        raise _NotPlain  # from_json reads a number or object as a string
    value.encode("utf-8")  # a lone surrogate escape: Spark writes '?'
    return value


def _plain_actors(value) -> list | None:
    if value is None:
        return None
    if not isinstance(value, list):
        raise _NotPlain  # from_json keeps a partial struct
    out = []
    for actor in value:
        if not isinstance(actor, dict) or not actor.keys() <= _ACTOR_KEYS:
            raise _NotPlain
        out.append((_plain_str(actor.get("name")), _plain_str(actor.get("role"))))
    return out


def _plain_event(payload: str | None) -> tuple | None:
    """:func:`parse_events`' event of one payload as (main_actors,
    other_actors, category), or None for a quarantined row; raises
    :class:`_NotPlain` when Python cannot tell what ``from_json`` reads."""
    if payload is None or payload.lstrip(" \t\n\r")[:1] not in ("{", "["):
        return None  # no JSON object or array: from_json yields NULL
    try:
        obj = json.loads(payload, object_pairs_hook=_unique_keys)
    except (ValueError, RecursionError) as exc:  # JSONDecodeError included
        raise _NotPlain from exc
    if not isinstance(obj, dict) or not obj.keys() <= _EVENT_KEYS:
        # a root array, or keys from_json would skip: Jackson's stream
        # limits (1000 digits a number, 1000 nesting levels) turn a
        # skipped value Python reads fine into a NULL event
        raise _NotPlain
    event = (
        _plain_actors(obj.get("main_actors")),
        _plain_actors(obj.get("other_actors")),
        _plain_str(obj.get("category")),
    )
    return None if event == (None, None, None) else event


def parse_plain(raw: list) -> list[tuple | None] | None:
    """:func:`parse_events` in Python, for payloads whose parse by
    ``from_json`` Python reproduces exactly; None when any payload is
    not such a *plain* one. Per payload, (main_actors, other_actors,
    category) with each actor a (name, role) pair, or None for a
    quarantined row (the all-null rule).

    A payload is plain when it is None or does not start, after JSON
    whitespace, with ``{`` or ``[`` (``from_json`` yields NULL), or when
    ``json.loads`` reads it as an object holding only the event's keys
    (no key twice): ``category`` absent, null or a string, and each actor
    list absent, null, or a list of objects holding only ``name`` /
    ``role``, each absent, null or a string; every string encodes as
    UTF-8. Anything else is Spark's to parse (``from_json`` reads
    ``{'category':'A'}`` and ``{"category":"A"} junk`` as ``A`` and
    ``{"category":5}`` as ``'5'``)."""
    try:
        return [_plain_event(payload) for payload in raw]
    except (_NotPlain, UnicodeEncodeError):
        return None


#: UD2's actors of one extracted row, in order: main then other, each a
#: (name, role, is_main) struct; empty for a quarantined (NULL) event.
ACTORS_EXPR = (
    "concat("
    "transform(coalesce(event.main_actors, array()), "
    "  a -> struct(a.name AS name, a.role AS role, true AS is_main)), "
    "transform(coalesce(event.other_actors, array()), "
    "  a -> struct(a.name AS name, a.role AS role, false AS is_main)))"
)


def flatten_actors(extracted: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """UD2: one row per (doc, actor): explode main+other with an
    is_main_actor flag; quarantined rows (NULL event) drop out — exactly
    collector.py:190-201's loop semantics."""
    return (
        extracted.filter(F.col("event").isNotNull())
        .select(
            F.col(id_col).alias("news_id"),
            F.col("event.category").alias("category"),
            F.explode(F.expr(ACTORS_EXPR)).alias("a"),
        )
        .select(
            "news_id",
            F.col("a.name").alias("actor_name"),
            F.col("a.role").alias("actor_role"),
            F.col("a.is_main").alias("is_main_actor"),
            "category",
        )
    )


# --- SQL mirrors of the mock rules (for the DuckDB oracles) ----------------

_OK_PRED = "substr(md5(text), 1, 1) <> 'f'"
_CAT_IDX = "(strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) % 5"
_CAT_CASE = " ".join(
    [f"WHEN {_CAT_IDX} = {i} THEN '{c}'" for i, c in enumerate(EVENT_CATEGORIES)]
)
_WORDS = "list_filter(string_split(text, ' '), x -> x <> '')"


# --------------------------------------------------------------------------
# Registry queries
# --------------------------------------------------------------------------


def ud1_extract_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category histogram of the extraction output over ``documents`` —
    the UD1 pipeline end-to-end with quarantined rows surfaced as a
    '(quarantined)' bucket."""
    docs = load_table(spark, sf_dir, "documents")
    extracted = extract_events(docs)
    return (
        extracted.select(
            F.coalesce(F.col("event.category"), F.lit("(quarantined)")).alias(
                "category"
            )
        )
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_UD1_SQL = (
    "SELECT CASE WHEN NOT (" + _OK_PRED + ") THEN '(quarantined)' "
    + _CAT_CASE
    + " END AS category, count(*) AS n FROM documents GROUP BY 1"
)


def ud2_flatten_actors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extract→flatten chain: per-actor rows with discriminator."""
    docs = load_table(spark, sf_dir, "documents")
    return flatten_actors(extract_events(docs))


_UD2_SQL = (
    f"WITH ok AS (SELECT doc_id, {_WORDS} AS w, "
    f"CASE {_CAT_CASE} END AS category "
    f"FROM documents WHERE {_OK_PRED}) "
    "SELECT doc_id AS news_id, w[1] AS actor_name, 'subject' AS actor_role, "
    "TRUE AS is_main_actor, category FROM ok WHERE len(w) >= 1 "
    "UNION ALL "
    "SELECT doc_id, w[2], 'object', TRUE, category FROM ok WHERE len(w) >= 2 "
    "UNION ALL "
    "SELECT doc_id, w[3], 'mention', FALSE, category FROM ok WHERE len(w) >= 3"
)


def ud3_quarantine_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerance accounting: totals, successes, quarantined, and
    flatten conservation (actor rows = Σ actors per ok doc).

    Single-pass by construction: the actor-row count is derived from the
    event struct's array sizes (= exactly flatten_actors' output rows),
    so all four aggregates come out of ONE mapInPandas stage — in
    production each extraction is an LLM call, so a second pass would
    double the spend."""
    docs = load_table(spark, sf_dir, "documents")
    extracted = extract_events(docs)
    n_actors = F.when(F.col("event").isNull(), F.lit(0)).otherwise(
        F.size(F.coalesce(F.col("event.main_actors"), F.array()))
        + F.size(F.coalesce(F.col("event.other_actors"), F.array()))
    )
    return extracted.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count("event").alias("n_ok"),
        (F.count(F.lit(1)) - F.count("event")).alias("n_quarantined"),
        F.coalesce(F.sum(n_actors), F.lit(0)).cast("bigint").alias(
            "n_actor_rows"
        ),
    )


_UD3_SQL = (
    f"WITH base AS (SELECT doc_id, {_WORDS} AS w, {_OK_PRED} AS ok "
    "FROM documents) "
    "SELECT count(*) AS n_total, "
    "count(*) FILTER (WHERE ok) AS n_ok, "
    "count(*) FILTER (WHERE NOT ok) AS n_quarantined, "
    # CAST: DuckDB sum(INTEGER) is HUGEINT (→ float64 in pandas); Spark's
    # is BIGINT — pin both to int64 so the dtype can't affect the hash.
    "CAST(coalesce(sum(CASE WHEN ok THEN "
    "least(len(w), 1) + CASE WHEN len(w) >= 2 THEN 1 ELSE 0 END "
    "+ CASE WHEN len(w) >= 3 THEN 1 ELSE 0 END ELSE 0 END), 0) AS BIGINT) "
    "AS n_actor_rows FROM base"
)


def ud4_retry_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UD4: transient-vs-permanent error taxonomy with bounded retries.
    Half the corpus (md5-selected by the chaos double) fails its first
    attempt with a transient 503; the RetryingProvider re-sends exactly
    those rows inside the Arrow batch, so the FINAL result equals
    ud1's clean run — while the ``attempts`` accounting shows the
    retries happened. Per category (quarantined refusals included):
    row count, rows that needed a retry, total attempts. The oracle
    replays both the extraction rules and the deterministic failure
    set; if the retry loop over- or under-retried, attempts diverge
    and the hash gate fails."""
    docs = load_table(spark, sf_dir, "documents")
    ext = extract_events_with_retry(docs)
    return (
        ext.groupBy(
            F.coalesce(F.col("event.category"), F.lit("QUARANTINED")).alias(
                "category"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("attempts") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_retried"),
            F.sum("attempts").cast("bigint").alias("total_attempts"),
        )
    )


#: the chaos double's failure predicate, mirrored for the oracle:
#: transient first failure iff md5(text)[2] < '8'
_RETRY_PRED = "strpos('01234567', substr(md5(text), 3, 1)) > 0"

_UD4_SQL = (
    f"WITH base AS (SELECT CASE WHEN {_OK_PRED} THEN CASE {_CAT_CASE} END "
    "ELSE 'QUARANTINED' END AS category, "
    f"CASE WHEN {_RETRY_PRED} THEN 1 ELSE 0 END AS retried "
    "FROM documents) "
    "SELECT category, CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(retried) AS BIGINT) AS n_retried, "
    "CAST(sum(1 + retried) AS BIGINT) AS total_attempts "
    "FROM base GROUP BY 1"
)


QUERIES = {
    "ud1_extract_categories": ud1_extract_categories,
    "ud2_flatten_actors": ud2_flatten_actors,
    "ud3_quarantine_stats": ud3_quarantine_stats,
    "ud4_retry_stats": ud4_retry_stats,
}

ORACLES = {
    "ud1_extract_categories": _UD1_SQL,
    "ud2_flatten_actors": _UD2_SQL,
    "ud3_quarantine_stats": _UD3_SQL,
    "ud4_retry_stats": _UD4_SQL,
}
