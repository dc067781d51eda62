"""Scripts and tests find the checkout from their own location, so a copy
of the repository runs and imports itself rather than the original."""

import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_no_file_names_the_checkout_path():
    own_path = re.compile(re.escape(str(REPO)) + r"(?![\w.-])")
    files = [REPO / "bench.py", *REPO.glob("tools/*.py"), *REPO.glob("tests/*.py")]
    offenders = [
        str(f.relative_to(REPO)) for f in files if own_path.search(f.read_text())
    ]
    assert offenders == []
