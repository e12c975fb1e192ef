"""The seeded generators: same seed, same bytes; shares in range."""

import numpy as np

from automated_review_analysis_pipeline_spark.functions.text import FILLER_VALUES
from perfbench import gen


def _csv(tmp_path, name, seed):
    path = tmp_path / name
    gen.write_survey_csv(gen.survey_frame(np.random.default_rng(seed), 500),
                         str(path))
    return path.read_bytes()


def test_same_seed_gives_byte_identical_csv(tmp_path):
    assert _csv(tmp_path, "a.csv", 7) == _csv(tmp_path, "b.csv", 7)
    assert _csv(tmp_path, "c.csv", 8) != _csv(tmp_path, "a.csv", 7)


def test_filler_and_distinct_key_shares():
    for seed in (1, 2, 3):
        df = gen.survey_frame(np.random.default_rng(seed), 500)
        cells = filler = 0
        keys = set()
        for q in gen.QUESTIONS:
            for answer in df[q]:
                cells += 1
                if answer.strip().lower() in FILLER_VALUES:
                    filler += 1
                else:
                    keys.add((q, answer))
        assert 0.15 <= filler / cells <= 0.19
        assert 1 / 7 <= len(keys) / (cells - filler) <= 1 / 5.5
        # answers carry the characters a CSV parser must quote
        text = "".join(df[gen.QUESTIONS[0]])
        assert "," in text and '"' in text and "\n" in text
        assert (df["Products"] == "").any()


def test_tables_are_seeded(tmp_path):
    a = gen.documents_frame(np.random.default_rng(3), 200)
    b = gen.documents_frame(np.random.default_rng(3), 200)
    assert a.equals(b)
    assert a["text"].str.endswith(" dup").sum() > 0
    sizes = gen.write_tables(np.random.default_rng(3), str(tmp_path), 50)
    assert sizes["documents"] > 0
