"""Pins bench.py's tooling that runs without Spark: run-file parsing
for --aggregate (ADVICE r12: the aggregate line is selected by MARKER,
never position, so a truncated tail or stray non-dict JSON line can't
silently misattribute totals), the reference-medians lookup, and
isolated mode's up-front name check."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import bench  # noqa: E402

DETAIL = {"metric": "declared_query_detail", "queries": {"q1": 1.5, "q2": 0.5}}
AGG = {"metric": "declared_query_suite_total", "value": 2.0, "sf": 0.1}


def _write(tmp_path, lines, name="run.json"):
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_two_line_format(tmp_path):
    run = bench._load_run(_write(tmp_path, [json.dumps(DETAIL), json.dumps(AGG)]))
    assert run["queries"] == DETAIL["queries"] and run["value"] == 2.0 and run["sf"] == 0.1


def test_truncated_aggregate_line_keeps_detail(tmp_path, capsys):
    """A tail-truncated aggregate must NOT make the detail line the
    aggregate: queries stay full, totals become None with a warning."""
    run = bench._load_run(
        _write(tmp_path, [json.dumps(DETAIL), json.dumps(AGG)[:20]])
    )
    assert run["queries"] == DETAIL["queries"]
    assert run["value"] is None and run["sf"] is None
    assert "aggregate line missing" in capsys.readouterr().err


def test_non_dict_json_lines_skipped(tmp_path):
    """A parseable bare JSON number/string must not raise on .get."""
    run = bench._load_run(
        _write(tmp_path, ["42", '"noise"', json.dumps(DETAIL), json.dumps(AGG)])
    )
    assert run["queries"] == DETAIL["queries"] and run["value"] == 2.0


def test_legacy_single_line_format(tmp_path):
    legacy = {"metric": "x", "value": 3.0, "queries": {"q1": 3.0}, "sf": 0.1}
    run = bench._load_run(_write(tmp_path, [json.dumps(legacy)]))
    assert run == legacy


def test_no_parseable_object_raises(tmp_path):
    with pytest.raises(ValueError):
        bench._load_run(_write(tmp_path, ["not json", "[1, 2]"[:4]]))


@pytest.mark.parametrize(
    "files, sf, expected",
    [
        # newest round wins, compared as a number, not as text
        ({"BENCH_MEDIANS_r9.json": 0.1, "BENCH_MEDIANS_r12.json": 0.1}, 0.1, "BENCH_MEDIANS_r12.json"),
        # the 'opt' suffix sorts as its round number
        ({"BENCH_MEDIANS_r9.json": 0.1, "BENCH_MEDIANS_r17opt.json": 0.1}, 0.1, "BENCH_MEDIANS_r17opt.json"),
        ({"BENCH_MEDIANS_r17opt.json": 0.1, "BENCH_MEDIANS_r18.json": 0.1}, 0.1, "BENCH_MEDIANS_r18.json"),
        # a newer file at another scale factor is ignored
        ({"BENCH_MEDIANS_r5.json": 0.1, "BENCH_MEDIANS_r18.json": 0.01}, 0.1, "BENCH_MEDIANS_r5.json"),
        ({"BENCH_MEDIANS_r5.json": 0.1}, 1.0, None),
    ],
)
def test_reference_medians_lookup(tmp_path, files, sf, expected):
    for name, file_sf in files.items():
        (tmp_path / name).write_text(json.dumps({"sf": file_sf, "medians": {"from": name}}))
    found = bench._reference_medians(sf, root=str(tmp_path))
    if expected is None:
        assert found is None
    else:
        assert found == (expected, {"from": expected})


def test_isolated_mode_rejects_unknown_query_before_spark(monkeypatch, capsys):
    """Like driver_sim --queries=, a typo'd name must fail fast instead of
    paying a session start and the warm-up first."""
    import energi_data_etl_spark.session as session

    def no_spark(*a, **kw):
        raise AssertionError("Spark session started before the name check")

    monkeypatch.setattr(session, "get_spark", no_spark)
    assert bench.main(["flagship_daily_avg", "no_such_query"]) != 0
    assert "no_such_query" in capsys.readouterr().err


def test_script_references_resolve():
    """Every repo-relative scripts/<file>.py named in code or the living
    docs exists, so deleting a script can't leave a dangling pointer. A
    '<commit>:scripts/...' reference names a file in history (reach it
    with git show) and is exempt; so is the reference's own batch script.
    Historical round records (SURVEY.md, VERDICT.md, OPTIMIZATION_r*.md)
    are out of scope."""
    import re

    root = Path(__file__).resolve().parents[1]
    reference_scripts = {"energy_etl.py"}  # the source paper's script, not part of this repo
    files = [
        *(root / "energi_data_etl_spark").rglob("*.py"),
        *(root / "tests").rglob("*.py"),
        *(root / "scripts").glob("*.py"),
        *(root / name for name in ("bench.py", "README.md", "CLAUDE.md", "BASELINE.md")),
    ]
    dangling = []
    for path in files:
        text = path.read_text()
        for m in re.finditer(r"scripts/(\w+\.py)", text):
            before = text[max(0, m.start() - 41) : m.start()]
            if re.search(r"(\b[0-9a-f]{7,40}:|[\w/])$", before) or m.group(1) in reference_scripts:
                continue
            if not (root / "scripts" / m.group(1)).is_file():
                dangling.append(f"{path.relative_to(root)}: {m.group(0)}")
    assert not dangling, dangling


def test_program_code_cites_symbols_not_line_numbers():
    """Program code cites other in-repo code by symbol
    (`operators/similarity.py::semdedup_prune`), never as `path.py:<line>`:
    a line number drifts with every edit above it and then points at the
    wrong code. Citations of the reference's own batch script
    (energy_etl.py:<line>) name a file outside this repo and are exempt."""
    import re

    root = Path(__file__).resolve().parents[1]
    files = [
        *(root / "energi_data_etl_spark").rglob("*.py"),
        *(root / "scripts").glob("*.py"),
        root / "bench.py",
        root / "__spark_entry__.py",
    ]
    cited = [
        f"{path.relative_to(root)}:{text.count(chr(10), 0, m.start()) + 1}: {m.group(0)}"
        for path in files
        for text in [path.read_text()]
        for m in re.finditer(r"([\w/.]+\.py):\d+", text)
        if Path(m.group(1)).name != "energy_etl.py"
    ]
    assert not cited, f"cite a symbol (path.py::name) instead of a line: {cited}"


def _docstrings(tree) -> list:  # noqa: ANN001
    """The module, class and function docstring nodes of ``tree``."""
    import ast

    scopes = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
    return [n.body[0].value for n in ast.walk(tree) if isinstance(n, scopes) and ast.get_docstring(n, False)]


def test_package_reads_no_round_artifact():
    """The package behaves the same whatever round artifacts
    (CORRECTNESS_r*.json, BENCH_r*.json, ...) sit at the repo root: no
    string literal in its code names one, so nothing can glob or open
    them. Docstrings may cite one as evidence (`PROBES_r14.json`)."""
    import ast
    import re

    artifact = re.compile(r"\b[A-Z][A-Z0-9_]*_r(?:\d+|\*)[\w*]*\.json\b")
    found = []
    for path in (Path(__file__).resolve().parents[1] / "energi_data_etl_spark").rglob("*.py"):
        tree = ast.parse(path.read_text())
        docs = {id(d) for d in _docstrings(tree)}
        found += [
            f"{path.name}:{n.lineno}: {n.value!r}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in docs and artifact.search(n.value)
        ]
    assert not found, f"program code names a round artifact: {found}"


def test_api_document_path_is_formatted_once():
    """The price API's zone-day document path ({year}/{month}-{day}_{zone}
    with zero-padded month and day) is spelled once in program code —
    `http_json.DOC_PATH` — and every URL and fixture path is formatted
    through `ApiConfig.url`. Docstrings may quote it."""
    import ast
    import re

    spelling = re.compile(r"02d\}-\{|%02d-%02d")
    found = []
    for path in (Path(__file__).resolve().parents[1] / "energi_data_etl_spark").rglob("*.py"):
        text = path.read_text()
        docs = {i for d in _docstrings(ast.parse(text)) for i in range(d.lineno, d.end_lineno + 1)}
        found += [
            f"{path.name}:{i}" for i, line in enumerate(text.splitlines(), 1) if i not in docs and spelling.search(line)
        ]
    assert len(found) == 1, f"the API document path is spelled {len(found)} times: {found}"


def test_md5_60_token_hash_and_kgram_slice_are_written_once():
    """Package code writes the 15-hex-digit md5 token hash once
    (`dedup.simhash_signature`) and the word k-gram slice once
    (`text.word_kgrams`); every other caller goes through them.
    Docstrings and the DuckDB oracle SQL may spell either."""
    import ast
    import re

    spellings = {
        "md5-60": re.compile(r"F\.substring\(F\.md5\(.*,\s*1,\s*15\)"),
        "k-gram slice": re.compile(r"concat_ws\(\" \", F\.slice\("),
    }
    found = {k: [] for k in spellings}
    for path in (Path(__file__).resolve().parents[1] / "energi_data_etl_spark").rglob("*.py"):
        text = path.read_text()
        docs = {i for d in _docstrings(ast.parse(text)) for i in range(d.lineno, d.end_lineno + 1)}
        for i, line in enumerate(text.splitlines(), 1):
            for k, rx in spellings.items():
                if i not in docs and rx.search(line):
                    found[k].append(f"{path.name}:{i}")
    assert {k: len(v) for k, v in found.items()} == {"md5-60": 1, "k-gram slice": 1}, found
