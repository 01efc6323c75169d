"""Session settings fail loudly and by name."""

from __future__ import annotations

import pytest

from big_data_final_project_spark.session import get_spark


@pytest.mark.parametrize("value", ["abc", "4.5", "0", "-2", ""])
def test_malformed_cpus_names_the_variable(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark()
