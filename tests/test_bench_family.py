"""bench.py's warm-silver family names: a scratch_dir (mkdtemp) directory
loses its random suffix, a content-addressed slot keeps its full prefix."""

from __future__ import annotations

import os
import tempfile

from bench import _family


def test_mkdtemp_names_lose_their_random_suffix(tmp_path):
    for _ in range(50):
        name = os.path.basename(tempfile.mkdtemp(prefix="cms_sketch_", dir=tmp_path))
        assert _family(name) == "cms_sketch", name
    # tempfile draws the suffix from [a-z0-9_], so it may hold underscores
    assert _family("cohort_ckpt_q_dktrbc") == "cohort_ckpt"
    assert _family("emb_idx_ckpt_26umagj_") == "emb_idx_ckpt"


def test_slot_suffixes_are_kept():
    assert (
        _family("ivf_baseline_root_testdata_sf0.1_caf00405ba1851de") == "ivf_baseline"
    )
    assert _family("knng_features_tmp_sf0.01_56aac5d1ae124375_k3_p2") == (
        "knng_features"
    )
    assert _family("ivf_root_testdata_sf0.001_56aac5d1ae124375") == "ivf"
