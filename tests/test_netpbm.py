"""Netpbm codec tier: decoder unit pins. The staged query's oracle parity
is ``test_registry_tiers.test_staged_oracle_parity``."""

from __future__ import annotations

import pytest

from dbt_gdpr_anonymizer_spark.operators.multimodal import (
    make_netpbm,
    netpbm_decoder,
    real_decoder,
)


def test_roundtrip_all_formats():
    gray = [[0, 10, 255], [250, 3, 7]]
    rgb = [[(1, 2, 3), (4, 5, 6)], [(250, 0, 128), (9, 9, 9)]]
    for fmt, px, ch in [(2, gray, 1), (5, gray, 1), (3, rgb, 3), (6, rgb, 3)]:
        flat = (
            [v for row in px for p in row for v in p]
            if ch == 3
            else [v for row in px for v in row]
        )
        out = netpbm_decoder(make_netpbm(fmt, px))
        w = len(px[0])
        assert out[:3] == [float(fmt), float(w), 2.0]
        assert out[0] == fmt
        assert out[3] == 255 and out[4] == ch
        assert out[5] == sum(flat)
        assert out[6] == max(flat) and out[7] == min(flat)


def test_comments_and_whitespace_tolerated():
    p = b"P2 # inline comment\n# full line\n 2\t1 #c\n255\n7 9\n"
    assert netpbm_decoder(p) == [2.0, 2.0, 1.0, 255.0, 1.0, 16.0, 9.0, 7.0]


def test_binary_raster_bytes_are_not_syntax():
    # raster containing b'#' (35) and whitespace (32, 10) reads
    # positionally, not via the header tokenizer
    p = make_netpbm(5, [[35, 32], [10, 0]])
    out = netpbm_decoder(p)
    assert out[5] == 77.0 and out[6] == 35.0 and out[7] == 0.0


def test_constraint_fences():
    with pytest.raises(NotImplementedError):
        netpbm_decoder(b"P4\n1 1\n\xff")
    with pytest.raises(NotImplementedError):
        netpbm_decoder(b"P5\n1 1\n65535\n\x00\x00")
    with pytest.raises(ValueError):
        netpbm_decoder(b"P5\n2 2\n255\n\x00\x01")  # truncated raster
    with pytest.raises(ValueError):
        netpbm_decoder(b"BM123")


def test_real_decoder_dispatch():
    p = make_netpbm(6, [[(1, 2, 3)]])
    assert real_decoder(p)[0] == 6.0
