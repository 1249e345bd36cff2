"""Plan pins for the text entries documented as map-only.

``corpus_filter``, ``redact_pii``, ``doc_fingerprint`` and ``text_quality``
are per-document column expressions over one scan: their executed plans
must hold no shuffle ``Exchange``. ``lang_id`` and ``corpus_split`` end in
a small rollup, so they are pinned to the exchanges that rollup needs (one
for ``lang_id``'s ``groupBy``, two for ``corpus_split``'s distinct-count
rewrite), each fed by a partial aggregate: the per-document work itself
never shuffles.
"""

from __future__ import annotations

import pytest

from mas_scada_bulkingest_spark import queries

_WORDS = "the a of and data spark merge join table row window batch".split()


@pytest.fixture()
def sf_dir(spark, tmpdir_path):
    rows = [
        (
            i,
            " ".join(_WORDS[(i * 7 + j * 3) % len(_WORDS)] for j in range(5 + i % 40)),
            ("en", "es", "zh")[i % 3],
            f"src{i % 4}",
        )
        for i in range(60)
    ]
    spark.createDataFrame(
        [(*r, len(r[1])) for r in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{tmpdir_path}/documents.parquet")
    return tmpdir_path


def _is_shuffle(plan_line: str) -> bool:
    return "Exchange" in plan_line and "BroadcastExchange" not in plan_line


@pytest.mark.parametrize(
    "entry", ["corpus_filter", "redact_pii", "doc_fingerprint", "text_quality"]
)
def test_map_only_entry_plans_no_exchange(spark, sf_dir, entry):
    df = getattr(queries, f"q_{entry}")(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not any(map(_is_shuffle, plan.splitlines())), plan
    assert df.count() == 60


@pytest.mark.parametrize("entry, n_exchanges", [("lang_id", 1), ("corpus_split", 2)])
def test_rollup_entry_shuffles_only_partial_aggregates(
    spark, sf_dir, entry, n_exchanges
):
    df = getattr(queries, f"q_{entry}")(spark, sf_dir)
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    exchanges = [i for i, line in enumerate(lines) if _is_shuffle(line)]
    assert len(exchanges) == n_exchanges, "\n".join(lines)
    for i in exchanges:
        assert "HashAggregate" in lines[i + 1] and "partial_" in lines[i + 1], lines[i + 1]
    assert df.collect()
