import os

import pandas as pd

from perfbench import run, workloads
from perfbench.procmon import descendants


def test_writing_the_inputs_leaves_no_process_behind(tmp_path):
    b = workloads.Bench(str(tmp_path), seed=1, seconds=0)
    run._write_inputs(b, [("corpus", b.start, 40)], cpus=2)
    assert descendants(os.getpid()) == []
    assert len(pd.read_parquet(b.path("corpus"))) == 40
    assert b.source_bytes > 0
