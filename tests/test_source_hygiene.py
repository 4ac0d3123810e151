"""Source hygiene checks over the package's own Python files."""

from pathlib import Path

import manage_versions_of_data_in_data_lake_using_lakefs_spark as pkg


def test_no_trailing_whitespace_in_package_sources():
    root = Path(pkg.__file__).parent
    bad = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if line != line.rstrip()
    ]
    assert not bad, f"trailing whitespace at {bad[:20]}"
