"""Wire-format codec golden + round-trip tests (FORMAT.md; FIXTURES.md §2).

Golden anchors from the reference examples:
- writer_test.go:747-778: 50,000 zeros, fixed @1000 → index 67 B, data 1,000 B
- writer_test.go:781-809: same via stream writer (maxMemory 10) → 1,068 B
"""

import zipfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dedup_spark.formats import (
    decode_format1, decode_format2, encode_format1, encode_format2,
    read_uvarint, write_uvarint,
)


def test_uvarint_roundtrip():
    import io

    for v in [0, 1, 127, 128, 300, 2 ** 32, 2 ** 64 - 1]:
        b = io.BytesIO()
        write_uvarint(b, v)
        b.seek(0)
        assert read_uvarint(b) == v
    # MaxUint64 encodes to 10 bytes like Go's PutUvarint
    b = io.BytesIO()
    write_uvarint(b, 2 ** 64 - 1)
    assert len(b.getvalue()) == 10


def test_format1_zero_golden():
    idx, dat = encode_format1(bytes(50_000), mode="fixed", max_size=1000)
    assert len(idx) == 67  # writer_test.go:775 "Index size: 67"
    assert len(dat) == 1000  # "Data size: 1000"
    assert decode_format1(idx, dat) == bytes(50_000)


def test_format2_zero_golden():
    s = encode_format2(bytes(50_000), mode="fixed", max_size=1000, max_blocks=10)
    assert len(s) == 1068  # writer_test.go:806 "Stream size: 1068"
    assert decode_format2(s) == bytes(50_000)


@pytest.mark.parametrize("mode", ["fixed", "dynamic", "entropy"])
def test_roundtrip_sampledata(mode, synth_sample):
    data = synth_sample
    idx, dat = encode_format1(data, mode=mode, max_size=4096)
    assert decode_format1(idx, dat) == data
    s = encode_format2(data, mode=mode, max_size=4096, max_blocks=100)
    assert decode_format2(s) == data


def test_format2_bounded_backref():
    """Blocks farther than max_blocks are re-emitted as new (J3)."""
    block = bytes(range(200)) * 5  # 1000 B
    data = block + bytes(1000) + bytes(1000) + block
    tight = encode_format2(data, mode="fixed", max_size=1000, max_blocks=1)
    loose = encode_format2(data, mode="fixed", max_size=1000, max_blocks=10)
    assert len(tight) > len(loose)  # the far dup cost a full payload
    assert decode_format2(tight) == data
    assert decode_format2(loose) == data


def test_dedup_ratio_reference_shape():
    """Reference-shaped bounded assertion (writer_test.go:54-66): 10 MiB
    with 50 injected dup blocks @64K → 50-60 blocks removed."""
    import random

    rng = random.Random(0)
    size, block = 10 << 20, 65536
    b = bytearray(rng.randrange(255) for _ in range(size))
    for i in range(50):
        b[(10 + i) * block:(11 + i) * block] = b[(i % 10) * block:(i % 10 + 1) * block]
    idx, dat = encode_format1(bytes(b), mode="fixed", max_size=block)
    removed = (size - len(dat)) // block
    assert 50 <= removed <= 60
    assert decode_format1(idx, dat) == bytes(b)


@settings(max_examples=25, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=8192),
    mode=st.sampled_from(["fixed", "dynamic", "entropy"]),
)
def test_roundtrip_property(data, mode):
    idx, dat = encode_format1(data, mode=mode, max_size=512)
    assert decode_format1(idx, dat) == data
    s = encode_format2(data, mode=mode, max_size=512, max_blocks=4)
    assert decode_format2(s) == data


def test_fixed_writer_limit_reference_shape():
    """Port of TestFixedWriterLimit (writer_test.go:69-120): 10 MiB with 50
    dups injected in REVERSED order, maxMemory = 9 blocks. The quartile-cut
    index eviction (writer.go:510-527) must bound both dedup hits
    (removed in [8,10]) and decoder MaxMem (<= 9 blocks)."""
    import random

    from dedup_spark.formats import format1_max_mem

    rng = random.Random(0)
    size, block, limit = 10 << 20, 64 << 10, 9
    b = bytearray(rng.randrange(255) for _ in range(size))
    for i in range(50):
        src = b[(i % 10) * block:(i % 10 + 1) * block]
        b[(10 + 50 - i) * block:(10 + 50 - i + 1) * block] = src
    idx, dat = encode_format1(
        bytes(b), mode="fixed", max_size=block, max_memory=limit * block
    )
    removed = (size - len(dat)) // block
    assert 8 <= removed <= 10, removed
    assert format1_max_mem(idx) // block <= limit
    # bounded-memory archives must still round-trip byte-exact
    assert decode_format1(idx, dat) == bytes(b)


def test_unbounded_memory_unchanged():
    """max_memory=0 (default) must not change existing archives."""
    data = bytes(bytearray(range(256)) * 64) * 3
    assert encode_format1(data, max_size=512) == encode_format1(
        data, max_size=512, max_memory=0
    )


def test_zero_length_block_keeps_backref_position():
    """A zero-length mid-stream block occupies a backref position (the
    reference reader appends an rblock unconditionally, reader.go:195);
    later offsets must count it in both the decoder and the MaxMem walk."""
    import io

    from dedup_spark.formats import format1_max_mem

    idx = io.BytesIO()
    dat = io.BytesIO()
    max_size = 512
    write_uvarint(idx, 1)
    write_uvarint(idx, max_size)
    payload = b"x" * 100
    # record 1: new block of 100 bytes
    write_uvarint(idx, 0); write_uvarint(idx, max_size - 100)
    dat.write(payload)
    # record 2: new block of 0 bytes (occupies position 2)
    write_uvarint(idx, 0); write_uvarint(idx, max_size)
    # record 3: backref offset 2 → must resolve to record 1's payload
    write_uvarint(idx, 2)
    # EOS
    write_uvarint(idx, (1 << 64) - 1); write_uvarint(idx, max_size)
    write_uvarint(idx, 0)
    out = decode_format1(idx.getvalue(), dat.getvalue())
    assert out == payload + payload
    # liveness: block 1 live from pos 1 to 3 → peak 100
    assert format1_max_mem(idx.getvalue()) == 100


def test_format1_max_mem_rejects_corrupt_size():
    """reader.go validates r > size for new and EOS records; the MaxMem
    sweep must reject a corrupt index instead of computing a negative
    readData (ADVICE r2)."""
    import io

    from dedup_spark.formats import MAX_U64, format1_max_mem, write_uvarint

    buf = io.BytesIO()
    write_uvarint(buf, 1)       # format 1
    write_uvarint(buf, 1024)    # max_size
    write_uvarint(buf, 0)       # new record
    write_uvarint(buf, 2000)    # r > max_size → corrupt
    with pytest.raises(ValueError, match="bad block size"):
        format1_max_mem(buf.getvalue())

    buf = io.BytesIO()
    write_uvarint(buf, 1)
    write_uvarint(buf, 1024)
    write_uvarint(buf, MAX_U64)  # EOS record
    write_uvarint(buf, 5000)     # r > max_size on EOS → corrupt
    with pytest.raises(ValueError, match="bad block size"):
        format1_max_mem(buf.getvalue())


def test_reference_file_example_goldens():
    """writer_test.go:985-1068 file-writer examples: 500,000 zero bytes,
    fixed @1000 → 500 blocks, 517 B index + 1,000 B data (format 1);
    stream writer with maxMemory 10,000 (10 blocks) → 1,518 B stream."""
    data = bytes(500_000)
    idx, dat = encode_format1(data, mode="fixed", max_size=1000)
    assert (len(idx), len(dat)) == (517, 1000)
    assert decode_format1(idx, dat) == data

    stream = encode_format2(data, mode="fixed", max_size=1000, max_blocks=10)
    assert len(stream) == 1518
    assert decode_format2(stream) == data
