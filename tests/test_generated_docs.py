"""OPERATORS.md and COVERAGE.md are generated from the code; each must
equal what its generator produces now."""

from __future__ import annotations

from pathlib import Path

import pytest

from tools import coverage_md, operators_md

REPO = Path(__file__).resolve().parent.parent
GENERATORS = {"OPERATORS.md": operators_md, "COVERAGE.md": coverage_md}


@pytest.mark.parametrize("doc", GENERATORS)
def test_generated_doc_is_in_sync(doc):
    gen = GENERATORS[doc]
    assert (REPO / doc).read_text() == gen.generate(), (
        f"{doc} is stale — run python {Path(gen.__file__).relative_to(REPO)}")
