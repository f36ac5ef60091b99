import copy
import json

import pytest

from perfbench import compare

RECORD = {
    "workload": "etl_sync",
    "provenance": {"cpus": 4, "sizes": {"rows": 100}, "spark": "4.1.2", "python": "3.11",
                   "commit": "abc", },
    "end_to_end": {"setup_s": 10.0, "main_p50_s": 2.0},
    "span_counts": {"plans.seed": [[2, 2, 8, 0]], "plans.upsert_sync": [[13, 13, 40, 0]]},
}


def write(tmp_path, name, record):
    path = tmp_path / name
    path.write_text(json.dumps(record))
    return str(path)


@pytest.mark.parametrize("field,value", [("cpus", 8), ("sizes", {"rows": 200})])
def test_refuses_unlike_records(tmp_path, field, value):
    other = copy.deepcopy(RECORD)
    other["provenance"][field] = value
    with pytest.raises(compare.NotComparable):
        compare.comparable(RECORD, other)
    assert compare.main([write(tmp_path, "a", RECORD), write(tmp_path, "b", other)]) == 2


def test_refuses_other_workload():
    other = dict(RECORD, workload="vector_serve")
    with pytest.raises(compare.NotComparable):
        compare.comparable(RECORD, other)


def test_compares_like_records(tmp_path, capsys):
    other = copy.deepcopy(RECORD)
    other["provenance"]["commit"] = "def"  # another commit is what gets compared
    other["end_to_end"]["main_p50_s"] = 2.5
    other["span_counts"]["plans.upsert_sync"].append([13, 13, 41, 0])  # ran one more call
    assert compare.main([write(tmp_path, "a", RECORD), write(tmp_path, "b", other)]) == 0
    out = capsys.readouterr().out
    assert "+0.5000" in out and "identical" in out


def test_reports_count_differences(tmp_path):
    other = copy.deepcopy(RECORD)
    other["span_counts"]["plans.seed"] = [[3, 2, 8, 0]]
    assert compare.count_differences(RECORD, other) == ["plans.seed: [[2, 2, 8, 0]] vs [[3, 2, 8, 0]]"]
    assert compare.main([write(tmp_path, "a", RECORD), write(tmp_path, "b", other)]) == 1
    del other["span_counts"]["plans.seed"]
    assert compare.count_differences(RECORD, other) == ["plans.seed: [[2, 2, 8, 0]] vs []"]
