"""C5/C6 LLM kernel: prompt plumbing, JSON parsing, sentiment
normalization, empty-category default, retry-with-backoff, and the
terminal (Neutral, No Feedback) failure default -- exercised with fake
OpenAI-compatible clients (no network, near-zero backoff).

All fakes are built inside factory closures: cloudpickle ships them by
value to the UDF workers (module-level test classes would pickle by
reference to a module the workers cannot import).
"""

from __future__ import annotations

import os

from automated_review_analysis_pipeline_spark.operators.classify import (
    SYS_PROMPT,
    build_user_prompt,
    llm_kernel,
)
from automated_review_analysis_pipeline_spark.plans.survey_pipeline import (
    analyze_wide,
    analyze_wide_cached,
)


def _make_factory(fail_first: int = 0, always_fail: bool = False,
                  marker_dir: str | None = None):
    def factory():
        import json as _json

        state = {"calls": 0}

        class _Resp:
            def __init__(self, content):
                msg = type("M", (), {"content": content})
                self.choices = [type("C", (), {"message": msg})]

        class _Completions:
            def create(self, **kwargs):
                state["calls"] += 1
                if marker_dir:
                    import uuid

                    from pyspark import TaskContext

                    # <stage id>-<uuid>: tests can tell which stage
                    # made the call
                    stage = TaskContext.get().stageId()
                    open(os.path.join(marker_dir,
                                      f"{stage}-{uuid.uuid4().hex}"),
                         "w").close()
                if always_fail:
                    raise RuntimeError("simulated outage")
                if state["calls"] <= fail_first:
                    raise RuntimeError("simulated 429")
                user = kwargs["messages"][1]["content"]
                answer = [ln for ln in user.splitlines()
                          if ln.startswith("Answer: ")][0][8:]
                if "love" in answer:
                    return _Resp(_json.dumps(
                        {"sentiment": "POSITIVE", "category": "Fit Praise"}))
                if "empty-cat" in answer:
                    return _Resp(_json.dumps(
                        {"sentiment": "negative", "category": "  "}))
                return _Resp(_json.dumps(
                    {"sentiment": "weird-label", "category": "General"}))

        class _Chat:
            completions = _Completions()

        class _Client:
            chat = _Chat()

        return _Client()

    return factory


def _survey(spark, answers):
    rows = [("a@x", "A", "P1", a) for a in answers]
    return spark.createDataFrame(rows, ["Email", "Name", "Products", "Q1"])


def test_llm_kernel_parses_and_normalizes(spark):
    kernel = llm_kernel("retail", client_factory=_make_factory(),
                        base_delay=0.001)
    wide, _ = analyze_wide(_survey(spark, ["love the fit", "empty-cat here",
                                           "plain words"]),
                           classifier=kernel)
    by_ans = {r["Q1_Answer"]: r for r in wide.collect()}
    # "POSITIVE" normalized to the canonical enum
    assert by_ans["love the fit"]["Q1_Sentiment"] == "Positive"
    assert by_ans["love the fit"]["Q1_Category"] == "Fit Praise"
    # whitespace category -> "No Feedback" (survey_analysis.py:206-210)
    assert by_ans["empty-cat here"]["Q1_Sentiment"] == "Negative"
    assert by_ans["empty-cat here"]["Q1_Category"] == "No Feedback"
    # unknown sentiment label -> Neutral (normalize_sentiment)
    assert by_ans["plain words"]["Q1_Sentiment"] == "Neutral"


def test_llm_kernel_retries_then_succeeds(spark):
    kernel = llm_kernel("retail", client_factory=_make_factory(fail_first=2),
                        base_delay=0.001)
    wide, _ = analyze_wide(_survey(spark, ["love it"]), classifier=kernel)
    r = wide.collect()[0]
    assert r["Q1_Sentiment"] == "Positive"  # survived 2 simulated 429s


def test_llm_kernel_terminal_failure_default(spark):
    kernel = llm_kernel("retail",
                        client_factory=_make_factory(always_fail=True),
                        max_retries=3, base_delay=0.001)
    wide, _ = analyze_wide(_survey(spark, ["anything at all"]),
                           classifier=kernel)
    r = wide.collect()[0]
    assert r["Q1_Sentiment"] == "Neutral"
    assert r["Q1_Category"] == "No Feedback"


def test_prompt_text_matches_reference_verbatim(spark, tmp_path):
    """C5 parity: the system prompt and user prompt our kernel sends must
    be BYTE-IDENTICAL to what the reference's call_openai_analyze sends
    (survey_analysis.py:180-187) for the same (industry, question, answer)
    -- with a real key, classifications must match the reference's, so the
    wording cannot drift. Both sides run against recording fake clients;
    request kwargs (model, temperature, max_tokens, response_format) are
    compared too."""
    import importlib.util
    import json

    industry, question, answer = (
        "retail", "Overall comments", "The fit was great, shipping slow.")

    # -- reference side: capture what IT sends ------------------------------
    spec = importlib.util.spec_from_file_location(
        "ref_survey_analysis_prompt", "/root/reference/survey_analysis.py")
    ref_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ref_mod)

    ref_captured = {}

    class _RefResp:
        def __init__(self):
            msg = type("M", (), {"content": json.dumps(
                {"sentiment": "Neutral", "category": "General"})})
            self.choices = [type("C", (), {"message": msg})]

    class _RefCompletions:
        def create(self, **kwargs):
            ref_captured.update(kwargs)
            return _RefResp()

    ref_client = type("Client", (), {
        "chat": type("Chat", (), {"completions": _RefCompletions()})()})()
    ref_mod.call_openai_analyze(industry, question, answer, ref_client)

    # -- engine side: capture what WE send (executor writes to shared fs) --
    capture_path = str(tmp_path / "captured.json")

    def factory():
        import json as _json

        class _Resp:
            def __init__(self):
                msg = type("M", (), {"content": _json.dumps(
                    {"sentiment": "Neutral", "category": "General"})})
                self.choices = [type("C", (), {"message": msg})]

        class _Completions:
            def create(self, **kwargs):
                with open(capture_path, "w", encoding="utf-8") as f:
                    _json.dump(kwargs, f)
                return _Resp()

        return type("Client", (), {
            "chat": type("Chat", (), {"completions": _Completions()})()})()

    kernel = llm_kernel(industry, client_factory=factory, base_delay=0.001)
    rows = [("a@x", "A", "P1", answer)]
    survey = spark.createDataFrame(rows, ["Email", "Name", "Products",
                                          question])
    wide, _ = analyze_wide(survey, classifier=kernel)
    wide.collect()
    with open(capture_path, encoding="utf-8") as f:
        ours = json.load(f)

    assert ours["messages"] == ref_captured["messages"]  # byte-identical
    for k in ("model", "temperature", "max_tokens", "response_format"):
        assert ours[k] == ref_captured[k], k


def test_classify_stage_respects_max_parallelism(spark):
    """API-mode concurrency bound: classify_with_cache repartitions the
    miss set to exactly max_parallelism partitions before the classifier
    runs (the reference's sequential loop = max_parallelism 1)."""
    from pyspark.sql import functions as F

    from automated_review_analysis_pipeline_spark.operators.cache import (
        classify_with_cache,
    )

    keys = spark.createDataFrame(
        [("retail", "q", f"answer {i}") for i in range(40)],
        "industry string, question string, answer string")

    observed = {}

    def classifier(misses):
        observed["partitions"] = misses.rdd.getNumPartitions()
        return misses.select(
            "*", F.lit("Neutral").alias("sentiment"),
            F.lit("General").alias("category"))

    out = classify_with_cache(keys, classifier, spark, max_parallelism=3)
    assert out.count() == 40
    assert observed["partitions"] == 3

    classify_with_cache(keys, classifier, spark, max_parallelism=1).count()
    assert observed["partitions"] == 1


def test_llm_kernel_filler_short_circuit_skips_api(spark, tmp_path):
    """Filler answers never reach the client. Spark hoists the UDF into an
    ArrowEvalPython stage that runs for ALL rows, so the cost guard lives
    inside the kernel -- observed via executor-side marker files (local
    mode: workers share the filesystem)."""
    marker = str(tmp_path / "api_calls")
    os.makedirs(marker)
    kernel = llm_kernel("retail",
                        client_factory=_make_factory(marker_dir=marker),
                        base_delay=0.001)
    wide, _ = analyze_wide(
        _survey(spark, ["n/a", "none", "-", "a real answer"]),
        classifier=kernel)
    rows = {r["Q1_Answer"]: r for r in wide.collect()}
    assert rows["n/a"]["Q1_Category"] == "No Feedback"
    assert rows["a real answer"]["Q1_Category"] == "General"
    # exactly ONE api call: the three filler rows were skipped in-kernel
    assert len(os.listdir(marker)) == 1


# three questions; 'n/a' and '' are filler, 'fine' repeats across rows
_THREE_Q_ROWS = [
    ("a@x", "A", "P1", "love the fit", "fine", "n/a"),
    ("b@x", "B", "P1, P2", "love the fit", "slow shipping", "fine"),
    ("c@x", "C", "P2", "empty-cat here", "fine", ""),
    ("d@x", "D", "P3", "plain words", "n/a", "a much longer answer that "
                                             "runs past the cap"),
]
_THREE_Q_COLS = ["Email", "Name", "Products", "How was the fit?",
                 "Delivery", "Anything else"]


def _distinct_non_filler_keys():
    return {(q, r[i]) for r in _THREE_Q_ROWS
            for i, q in enumerate(_THREE_Q_COLS) if i >= 3
            if r[i] not in ("n/a", "")}


def test_max_parallelism_bounds_the_classify_stage(spark, tmp_path):
    """max_parallelism=1 must mean ONE concurrent request stream: the
    cached plan classifies every question's misses in a single stage of
    exactly one task (not one task per question), bills each distinct
    non-filler key once, and a warm re-run bills nothing and appends
    nothing."""
    marker = str(tmp_path / "api_calls")
    os.makedirs(marker)
    cache = str(tmp_path / "cache")
    kernel = llm_kernel("retail",
                        client_factory=_make_factory(marker_dir=marker),
                        base_delay=0.001)
    survey = spark.createDataFrame(_THREE_Q_ROWS, _THREE_Q_COLS)

    wide, _ = analyze_wide_cached(survey, kernel, "retail", cache,
                                  max_parallelism=1)
    wide.collect()
    calls = os.listdir(marker)
    assert len(calls) == len(_distinct_non_filler_keys()) == 7
    stages = {int(name.split("-")[0]) for name in calls}
    assert len(stages) == 1
    info = spark.sparkContext.statusTracker().getStageInfo(stages.pop())
    assert info.numTasks == 1

    files = sorted(os.listdir(cache))
    wide2, _ = analyze_wide_cached(survey, kernel, "retail", cache,
                                   max_parallelism=1)
    assert sorted(tuple(r) for r in wide2.collect()) == \
        sorted(tuple(r) for r in wide.collect())
    assert len(os.listdir(marker)) == len(calls)   # warm: zero calls
    assert sorted(os.listdir(cache)) == files      # and no new file


def test_llm_kernel_prompts_with_each_rows_question(spark, tmp_path):
    """With the question as a column, every request carries ITS row's
    question: the user message is build_user_prompt(industry, question,
    answer[:max_chars]) and the system message is SYS_PROMPT -- one
    request per distinct non-filler key, none from another question."""
    import json

    capture = str(tmp_path / "requests")
    os.makedirs(capture)

    def factory():
        import json as _json
        import uuid

        class _Resp:
            def __init__(self):
                msg = type("M", (), {"content": _json.dumps(
                    {"sentiment": "Neutral", "category": "General"})})
                self.choices = [type("C", (), {"message": msg})]

        class _Completions:
            def create(self, **kwargs):
                path = os.path.join(capture, uuid.uuid4().hex)
                with open(path, "w", encoding="utf-8") as f:
                    _json.dump(kwargs["messages"], f)
                return _Resp()

        return type("Client", (), {
            "chat": type("Chat", (), {"completions": _Completions()})()})()

    max_chars = 12
    kernel = llm_kernel("retail", client_factory=factory, base_delay=0.001)
    survey = spark.createDataFrame(_THREE_Q_ROWS, _THREE_Q_COLS)
    wide, _ = analyze_wide_cached(survey, kernel, "retail",
                                  str(tmp_path / "cache"),
                                  max_chars=max_chars)
    wide.collect()

    sent = []
    for name in os.listdir(capture):
        with open(os.path.join(capture, name), encoding="utf-8") as f:
            sent.append(json.load(f))
    assert all(m[0] == {"role": "system", "content": SYS_PROMPT}
               for m in sent)
    assert all(m[1]["role"] == "user" for m in sent)
    want = sorted(build_user_prompt("retail", q, a[:max_chars])
                  for q, a in _distinct_non_filler_keys())
    assert sorted(m[1]["content"] for m in sent) == want
