"""Golden-vector tests for the chunker kernels (SURVEY.md §5.2, FIXTURES.md §2).

Vectors ported from /root/reference/writer_test.go:
- ExampleNewSplitter_file    (862-917): zpaq,    maxSize=4096 → 11 fragments
- ExampleNewSplitter_entropy (921-977): entropy, maxSize=4096 → 12 fragments
- ExampleNewFixedWriter      (747-778): 50,000 zeros @1000 → 50 blocks, 1 unique
- ExampleNewSplitter         (813-858): 50,050 zeros → 51 frags, 1,050 unique B
- ExampleBirthdayProblem     (1075-1082)
"""

import hashlib

import pytest

from dedup_spark import chunkers as ck

SAMPLE = "/root/reference/testdata/sampledata.zip"

# (size, sha1-hex, new) — writer_test.go:905-917
GOLDEN_ZPAQ = [
    (893, "7f8455127e82f90ea7e97716ccaefa9317279b4b", True),
    (559, "b554708bbfda24f1eb8fcd75a155d23bd36939d3", True),
    (3482, "59bca870477e14e97ae8650e74ef52abcb6340e8", True),
    (165, "6fb05a63e28a1bb2e880e051940f517115e7b16c", True),
    (852, "6671826ffff6edd32951a0e774efccb5101ba629", True),
    (3759, "0fae545a20195720d8e9bb9540069418d7db0873", True),
    (3482, "59bca870477e14e97ae8650e74ef52abcb6340e8", False),
    (165, "6fb05a63e28a1bb2e880e051940f517115e7b16c", False),
    (852, "6671826ffff6edd32951a0e774efccb5101ba629", False),
    (2380, "1507aa13e215517ce982b9235a0221018128ed4e", True),
    (71, "f262fcf4af26ee75ff3045db2af21f2acca235cd", True),
]

# writer_test.go:964-977
GOLDEN_ENTROPY = [
    (521, "0c5989843e85f31aed26f249bd203240dd72f77a", True),
    (1563, "308ff2e0b4776c2a08fe549422c7ebfbf646bb22", True),
    (919, "9d68759ef33ae919b656faf52bb1177e803f810b", True),
    (1326, "c272c26dff010417ca2120a8e82addfdadb4efeb", True),
    (1284, "9bbe891ccb1b141e0e122110e730e8df9743331e", True),
    (1220, "5019f56fa9395060fbe2e957ad518a35cd667f9b", True),
    (3509, "e0d7c8acfdd5b399a92b5e495a0794ffa842ee73", True),
    (919, "9d68759ef33ae919b656faf52bb1177e803f810b", False),
    (1326, "c272c26dff010417ca2120a8e82addfdadb4efeb", False),
    (1284, "9bbe891ccb1b141e0e122110e730e8df9743331e", False),
    (1220, "5019f56fa9395060fbe2e957ad518a35cd667f9b", False),
    (1569, "5ae2760535662c13b336d1ae4a0a7fdcba789d83", True),
]


@pytest.fixture(scope="module")
def sample_bytes():
    """The reference sample the golden fragment vectors were cut from;
    only those goldens need it, so they skip when it is absent."""
    try:
        with open(SAMPLE, "rb") as f:
            return f.read()
    except FileNotFoundError:
        pytest.skip(f"reference golden data absent: {SAMPLE}")


def _frag_tuples(frags, data):
    return [
        (f["length"], hashlib.sha1(data[f["offset"]:f["offset"] + f["length"]]).hexdigest(), f["new"])
        for f in frags
    ]


@pytest.mark.parametrize("impl", ["py", "fast"])
def test_golden_zpaq(sample_bytes, impl):
    fn = ck.zpaq_chunks_py if impl == "py" else ck.zpaq_chunks
    bounds = fn(sample_bytes, 4096)
    frags = ck.split_stream(sample_bytes, "dynamic", 4096)
    assert [(length, h, n) for (length, h, n) in _frag_tuples(frags, sample_bytes)] == GOLDEN_ZPAQ
    assert [b[1] for b in bounds] == [g[0] for g in GOLDEN_ZPAQ]
    assert sum(b[1] for b in bounds) == len(sample_bytes)


@pytest.mark.parametrize("impl", ["py", "fast"])
def test_golden_entropy(sample_bytes, impl):
    fn = ck.entropy_chunks_py if impl == "py" else ck.entropy_chunks
    bounds = fn(sample_bytes, 4096)
    frags = ck.split_stream(sample_bytes, "entropy", 4096)
    assert _frag_tuples(frags, sample_bytes) == GOLDEN_ENTROPY
    assert [b[1] for b in bounds] == [g[0] for g in GOLDEN_ENTROPY]


def test_fast_path_matches_py(synth_sample):
    """C kernel and Python kernel agree byte-for-byte on varied inputs."""
    import random

    rng = random.Random(0)
    cases = [
        b"",
        b"x",
        bytes(50_000),
        synth_sample,
        bytes(rng.randrange(256) for _ in range(200_000)),
        (synth_sample * 13)[:100_000],
    ]
    for data in cases:
        for size in (512, 1024, 4096, 65536):
            assert ck.zpaq_chunks(data, size) == ck.zpaq_chunks_py(data, size)
            assert ck.entropy_chunks(data, size) == ck.entropy_chunks_py(data, size)


def test_fixed_zero_golden():
    # writer_test.go:747-778: 50,000 zeros @ 1000 → 50 blocks, 1 unique block
    data = bytes(50_000)
    frags = ck.split_stream(data, "fixed", 1000)
    assert len(frags) == 50
    assert sum(1 for f in frags if f["new"]) == 1
    assert sum(f["length"] for f in frags if f["new"]) == 1000


def test_splitter_zero_golden():
    # writer_test.go:813-858: 50,050 zeros @ 1000 → 51 fragments, 1,050 unique B
    data = bytes(50_050)
    frags = ck.split_stream(data, "fixed", 1000)
    assert len(frags) == 51
    assert sum(f["length"] for f in frags if f["new"]) == 1050


def test_chunks_cover_input(synth_sample):
    for mode in ("fixed", "dynamic", "entropy"):
        bounds = ck.chunk_fn(mode)(synth_sample, 1024)
        pos = 0
        for off, length in bounds:
            assert off == pos and length > 0
            pos += length
        assert pos == len(synth_sample)


def test_zpaq_block_size_bounds(synth_sample):
    bounds = ck.zpaq_chunks(synth_sample, 4096)
    assert len(bounds) > 1
    for off, length in bounds[:-1]:
        assert 4096 // 64 <= length <= 4096


def test_min_block_size_rejected():
    with pytest.raises(ck.MaxSizeTooSmall):
        ck.fixed_chunks(b"x", 511)  # writer.go:173-175


def test_birthday_problem_golden():
    # writer_test.go:1075-1082
    assert (
        ck.birthday_problem((1 << 40) // (1 << 10))
        == "Collision probability is ~ 1/2535301202817642046627252275200 ~ 3.944304522431639e-31"
    )
