"""Every ``tools/<name>.py`` that the package source, the tests, README.md,
SURVEY.md or the verify skill cites exists, so deleting a script cannot
leave a live document or docstring pointing at nothing. History files
(BASELINE.md, CHANGES.md, VERDICT.md, OPTIMIZATION_r*.md, plans/) keep
the names of scripts that ran then and are not scanned. Reads files
only; no Spark session starts."""

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
CITATION = re.compile(r"(?<![\w/.])tools/(\w+)\.py")


def _cited_in():
    yield from sorted((REPO / "aws_cli_data_pipeline_tools_spark").rglob("*.py"))
    yield from sorted((REPO / "tests").glob("*.py"))
    for doc in ("README.md", "SURVEY.md", ".claude/skills/verify/SKILL.md"):
        if (REPO / doc).exists():
            yield REPO / doc


def test_cited_tool_scripts_exist():
    checked, missing = 0, []
    for path in _cited_in():
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            for name in CITATION.findall(line):
                checked += 1
                if not (REPO / "tools" / f"{name}.py").exists():
                    where = f"{path.relative_to(REPO)}:{lineno}"
                    missing.append(f"{where}: tools/{name}.py")
    assert checked > 0
    assert not missing, "cited scripts that do not exist:\n" + "\n".join(missing)
