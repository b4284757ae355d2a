"""bench.py's two outputs that outlive the run: the compact tail line
(parsed by a reader that keeps only the last ~2,000 chars) and the
BENCH_FLOORS.json artifact (written only by a headline-config run)."""

import json

import pytest

from bench import COMPACT_BUDGET, HEADLINE, compact_line, write_floors


def _summary(timings):
    return {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": 0.1,
    }


def test_compact_line_bytes():
    line = compact_line(
        {"metric": "m", "value": 1.5, "sf": 0.1}, {"a": 1.234, "b": 0.005}
    )
    assert line == (
        '{"metric":"m","value":1.5,"unit":"sec","sf":0.1,'
        '"queries":{"a":1.23,"b":0.01}}'
    )


def test_compact_line_keeps_2dp_format_at_the_headline():
    # every headline floor is under 10 s today: one x.yz value each
    timings = {n: 1.0 + (i * 1.371) % 8.99 for i, n in enumerate(HEADLINE)}
    summary = _summary(timings)
    # the format the tail reader parses today, spelled out
    expected = json.dumps(
        {**summary, "queries": {n: round(t, 2) for n, t in timings.items()}},
        separators=(",", ":"),
    )
    assert compact_line(summary, timings) == expected
    assert len(expected) <= COMPACT_BUDGET


@pytest.mark.parametrize(
    "n_names,name_len,expect",
    [
        (100, 4, "2dp"),
        (110, 9, "1dp"),
        (120, 9, "0dp"),
        (400, 20, "scalar"),
    ],
)
def test_compact_line_fits_the_tail_with_100_plus_names(n_names, name_len, expect):
    names = [f"q{i:0{name_len - 1}d}" for i in range(n_names)]
    timings = {n: 12.345 for n in names}
    line = compact_line(_summary(timings), timings)
    assert len(line) <= COMPACT_BUDGET
    got = json.loads(line)
    assert got["metric"] == "headline_queries_total"
    assert got["value"] == round(12.345 * n_names, 3)
    assert got["unit"] == "sec" and got["sf"] == 0.1
    if expect == "scalar":
        assert "queries" not in got
        return
    assert list(got["queries"]) == names
    value = {"2dp": 12.35, "1dp": 12.3, "0dp": 12}[expect]
    assert all(
        v == value and type(v) is type(value) for v in got["queries"].values()
    )


@pytest.mark.parametrize(
    "cpus,waived,as_dir,written",
    [
        ("8", False, False, False),
        ("32", True, False, False),
        ("32", False, True, False),  # open() raises IsADirectoryError
        ("32", False, False, True),
    ],
)
def test_floors_written_only_by_headline_config(
    tmp_path, capsys, cpus, waived, as_dir, written
):
    path = tmp_path / "BENCH_FLOORS.json"
    path.mkdir() if as_dir else path.write_text("committed\n")
    payload = {"cpus": cpus, "load_gate_waived": waived, "queries": {"a": 1.0}}
    write_floors(payload, str(path))
    err = capsys.readouterr().err
    if written:
        assert json.loads(path.read_text()) == payload and err == ""
    else:
        assert "BENCH_FLOORS.json not written" in err
        assert as_dir or path.read_text() == "committed\n"
