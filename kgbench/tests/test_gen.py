"""The input generator is deterministic in its seed and plants what the
workloads rely on. Run: python3 -m pytest kgbench/tests -q"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def test_pages_same_seed_same_digest():
    a, pa = gen.make_pages(7, 200)
    b, pb = gen.make_pages(7, 200)
    assert gen.digest(a) == gen.digest(b)
    assert pa == pb


def test_pages_different_seed_different_digest():
    assert gen.digest(gen.make_pages(7, 200)[0]) != \
        gen.digest(gen.make_pages(8, 200)[0])


def test_documents_digest_tracks_seed():
    a, _ = gen.make_documents(3, 300)
    b, _ = gen.make_documents(3, 300)
    c, _ = gen.make_documents(4, 300)
    assert gen.digest(a) == gen.digest(b) != gen.digest(c)


def test_pages_properties():
    rows, props = gen.make_pages(1, 1000)
    assert props["pages"] == len(rows) == 1000
    assert 0.35 < props["en_share"] < 0.45
    assert props["en_pages"] == sum(r["lang"] == "en" for r in rows)
    assert props["distinct_mentions"] > 500
    r = rows[0]
    assert r["url"].endswith("/0")
    # one <p> per statement; the text column is the title plus the lines
    lines = r["text"].split("\n")[1:]
    assert r["html"].decode().count("<p>") == len(lines) >= 1
    for line in lines:
        assert any(t.startswith("$C:") for t in line.split(" "))
        assert any(t.endswith(":VBZ") and t.startswith("$P:")
                   for t in line.split(" "))


def test_documents_plant_near_duplicates():
    rows, props = gen.make_documents(5, 2000)
    assert 0.1 < props["planted_dup_share"] < 0.2
    assert [r["doc_id"] for r in rows] == list(range(2000))
    assert all(r["n_chars"] == len(r["text"]) for r in rows)


def test_documents_blocks_pass_the_hot_gram_cap():
    _, props = gen.make_documents(1, 2500)
    assert props["blocks"] == 5
    assert props["docs_per_block_max"] > 1000
    assert props["hot_grams"] > 0


def test_block_traffic_counts_pairs_under_the_cap():
    rows = [{"lang": "en", "source": "s", "text": "a b c"},
            {"lang": "en", "source": "s", "text": "a b a b"},
            {"lang": "en", "source": "s", "text": "b c"},
            {"lang": "zh", "source": "s", "text": "a b"}]
    t = gen.block_traffic(rows)
    assert t["blocks"] == 2
    assert t["docs_per_block_max"] == 3
    # en: "a b" x2, "b c" x2, "b a" x1; zh: "a b" x1
    assert t["bigram_groups"] == 4
    assert t["capped_pair_instances"] == 2
    assert t["hot_grams"] == 0


def test_write_parquet_round_trip(tmp_path):
    import pyarrow.parquet as pq

    rows, _ = gen.make_pages(2, 20)
    path = str(tmp_path / "pages.parquet")
    gen.write_parquet(rows, gen.PAGES_SCHEMA, path)
    back = pq.read_table(path).to_pylist()
    assert gen.digest(back) == gen.digest(rows)
