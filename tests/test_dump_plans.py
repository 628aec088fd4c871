"""``tools/dump_plans.normalize``: two plans that differ only in the ids a
Spark session hands out normalize to the same text; an operator change
still shows. No Spark session needed."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from dump_plans import normalize

PLAN = """\
(3) Exchange
Input [3]: [vec_id#{a}L, embedding#{b}, label#{c}]
Arguments: RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id={p}]

(4) Project [codegen id : {g}]
Output [2]: [vec_id#{a}L, SQRT(aggregate(zip_with(embedding#{b}, embedding#{b}, \
lambdafunction((lambda x_{x}#{d} * lambda y_{y}#{e}), lambda x_{x}#{d}, \
lambda y_{y}#{e}, false)), 0.0, lambdafunction(lambda id#{f}, lambda id#{f}, \
false))) AS _qn#{h}]
Input [3]: [vec_id#{a}L, embedding#{b}, label#{c}]

(5) Scan ExistingRDD [codegen id : {g2}]
Output [1]: [doc_id#{i}L]
Arguments: [doc_id#{i}L], MapPartitionsRDD[{r}] at localCheckpoint, ExistingRDD

(6) {op}
Output [2]: [vec_id#{a}L, _qn#{h}]
Arguments: {s}

(7) BroadcastQueryStage
Output [1]: [doc_id#{i}L]
Arguments: {s2}
"""

IDS_1 = dict(a=204, b=205, c=206, p=796, g=3, x=37, y=38, d=225, e=226,
             f=229, h=224, g2=4, i=300, r=379, s=8, s2=9)
IDS_2 = dict(a=11, b=12, c=13, p=40, g=1, x=2, y=3, d=17, e=18,
             f=19, h=16, g2=2, i=21, r=45, s=11, s2=4)


def _plan(op="ShuffleQueryStage", **ids):
    return PLAN.format(op=op, **ids)


def test_id_only_differences_normalize_equal():
    a, b = _plan(**IDS_1), _plan(**IDS_2)
    assert a != b
    assert normalize(a) == normalize(b)
    assert normalize(normalize(a)) == normalize(a)


def test_ids_are_numbered_in_order_of_appearance():
    out = normalize(_plan(**IDS_1))
    assert "vec_id#0L, embedding#1, label#2" in out
    assert "[plan_id=0]" in out
    assert "lambda x_0#3 * lambda y_1#4" in out
    assert "lambda id#5" in out  # a name without a suffix stays
    assert "[codegen id : 0]" in out and "[codegen id : 1]" in out
    assert "MapPartitionsRDD[0]" in out
    assert out.endswith("Arguments: 0\n\n(7) BroadcastQueryStage\n"
                        "Output [1]: [doc_id#7L]\nArguments: 1\n")


def test_operator_change_still_differs():
    a = _plan(**IDS_1)
    b = _plan(op="TableCacheQueryStage", **IDS_2)
    assert normalize(a) != normalize(b)
    c = _plan(**IDS_2).replace("REPARTITION_BY_NUM", "ENSURE_REQUIREMENTS")
    assert normalize(a) != normalize(c)


def test_identity_is_kept():
    """Renumbering keeps which references share an id: a plan where two
    columns become one expression is not the same plan."""
    a = _plan(**IDS_1)
    b = _plan(**dict(IDS_1, c=205))
    assert normalize(a) != normalize(b)
