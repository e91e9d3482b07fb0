"""WinZip-AES protected-zip codec (ProtectedZipHandler analog,
filesystem/.../encryption/ProtectedZipHandler.java).

The AES core is pinned two independent ways: the FIPS-197 Appendix C
known-answer vectors (public spec constants) and a cross-validation
against the JVM's javax.crypto AES — a completely separate
implementation reached through py4j. The container format is pinned by
roundtripping through the REAL archive scanner (read_archive_members on
Spark), wrong-password and tampered-bytes routing included.

Known coverage limit: the CTR convention (LE counter from 1, no nonce)
and payload layout are shared by the writer and reader, so a symmetric
deviation from the published AE-2 spec would roundtrip invisibly. The
sandbox has no external AES-zip producer (no 7z/pyzipper) to pin interop
against; the spec fields are asserted structurally instead
(test_container_spec_fields).
"""

from __future__ import annotations

import io
import os
import zipfile

import pytest

from cdc_core_spark.sources import winzip_aes as wz
from cdc_core_spark.sources.archive import read_archive_members


# FIPS-197 Appendix C: same plaintext, 128/192/256-bit keys
_FIPS_PT = bytes.fromhex("00112233445566778899aabbccddeeff")
_FIPS = [(16, "69c4e0d86a7b0430d8cdb78070b4c55a"),
         (24, "dda97ca4864cdfe06eaf70a0ec0d7191"),
         (32, "8ea2b7ca516745bfeafc49904b496089")]


@pytest.mark.parametrize("klen,want", _FIPS)
def test_fips197_known_answers(klen, want):
    assert wz.aes_encrypt_block(bytes(range(klen)), _FIPS_PT).hex() == want


def test_aes_core_matches_jvm(spark):
    """Random keys/blocks vs javax.crypto AES/ECB — two implementations,
    one answer. Covers all three key sizes and multi-block batching."""
    import random

    rng = random.Random(20260819)
    jvm = spark.sparkContext._jvm
    for klen in (16, 24, 32):
        key = bytes(rng.randrange(256) for _ in range(klen))
        data = bytes(rng.randrange(256) for _ in range(16 * 37))
        cipher = jvm.javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
        cipher.init(1, jvm.javax.crypto.spec.SecretKeySpec(
            bytearray(key), "AES"))
        want = bytes(cipher.doFinal(bytearray(data)))
        got = b"".join(wz.aes_encrypt_block(key, data[i:i + 16])
                       for i in range(0, len(data), 16))
        assert got == want, f"AES-{klen * 8} diverges from javax.crypto"


@pytest.mark.parametrize("strength", [1, 2, 3])
def test_member_roundtrip_all_strengths(strength):
    members = [("a.txt", b"alpha " * 500), ("d/b.bin", bytes(range(256)) * 9)]
    buf = io.BytesIO()
    wz.write_winzip_aes(buf, members, "pw", strength=strength,
                        salt_seed=b"t")
    blob = buf.getvalue()
    with zipfile.ZipFile(io.BytesIO(blob)) as zf:
        got = {i.filename: wz.read_member(blob, i, b"pw")
               for i in zf.infolist()}
    assert got == dict(members)


def test_wrong_password_and_tamper_raise():
    buf = io.BytesIO()
    wz.write_winzip_aes(buf, [("x", b"payload" * 64)], "right",
                        salt_seed=b"t")
    blob = buf.getvalue()
    info = zipfile.ZipFile(io.BytesIO(blob)).infolist()[0]
    with pytest.raises(RuntimeError, match="wrong password"):
        wz.read_member(blob, info, b"wrong")
    with pytest.raises(RuntimeError, match="password"):
        wz.read_member(blob, info, None)
    # flip one ciphertext byte (past header+salt+verifier) → HMAC must fail
    pos = info.header_offset + 30 + len(info.filename) + len(info.extra) + 20
    bad = blob[:pos] + bytes([blob[pos] ^ 1]) + blob[pos + 1:]
    with pytest.raises(RuntimeError, match="authentication"):
        wz.read_member(bad, info, b"right")


def test_container_spec_fields():
    """Structural AE-2 conformance of written bundles: method 99, extra
    field 0x9901 (vendor 'AE', version 2, real method = deflate), salt
    length bound to strength, UTF-8 name flag only when needed."""
    for strength, salt_len in [(1, 8), (2, 12), (3, 16)]:
        buf = io.BytesIO()
        wz.write_winzip_aes(buf, [("ascii.txt", b"x"), ("répertoire/å.txt",
                                                        b"y")],
                            "pw", strength=strength, salt_seed=b"s")
        zf = zipfile.ZipFile(io.BytesIO(buf.getvalue()))
        infos = {i.filename: i for i in zf.infolist()}
        assert set(infos) == {"ascii.txt", "répertoire/å.txt"}  # utf-8 flag
        assert infos["ascii.txt"].flag_bits & 0x800 == 0
        assert infos["répertoire/å.txt"].flag_bits & 0x800
        for i in infos.values():
            assert i.compress_type == 99 and i.flag_bits & 0x1
            ver, s, method = wz.parse_aes_extra(i.extra)
            assert (ver, s, method) == (2, strength, 8)
            # payload = salt + 2-byte verifier + ct + 10-byte auth
            assert i.compress_size >= salt_len + 2 + wz._AUTH_LEN


def test_ctr_chunking_invariant(monkeypatch):
    """The chunked CTR stream must equal the one-shot transform — run the
    same member through a tiny chunk size and compare."""
    data = bytes((i * 31 + 7) % 256 for i in range(16 * 1000 + 5))
    key = bytes(range(32))
    whole = wz._ctr_apply(key, data)
    monkeypatch.setattr(wz, "_CTR_CHUNK_BLOCKS", 3)
    assert wz._ctr_apply(key, data) == whole
    # CTR is an involution: applying twice restores the plaintext
    assert wz._ctr_apply(key, whole) == data


def test_corrupt_aes_archive_routes_like_any_bad_bundle(spark, tmp_path):
    """A truncated AES bundle must follow the standard fail/skip routing —
    skip mode survives it, fail mode names the archive. The struct.error a
    cut 0x9901 extra field raises is pinned into the skip set too."""
    import struct

    from cdc_core_spark.sources import archive as arch

    # unit half: a truncated extra field raises struct.error, and that
    # class is in the scanner's decode-error set (the routing guarantee)
    with pytest.raises(struct.error):
        wz.parse_aes_extra(struct.pack("<HH", wz.AES_EXTRA_ID, 7) + b"xx")
    assert struct.error in arch._DECODE_ERRORS

    root = str(tmp_path)
    buf = io.BytesIO()
    wz.write_winzip_aes(buf, [("m.txt", b"data" * 50)], "pw", salt_seed=b"s")
    with open(os.path.join(root, "trunc.zip"), "wb") as f:
        f.write(buf.getvalue()[:-40])  # cut mid-central-directory
    with zipfile.ZipFile(os.path.join(root, "ok.zip"), "w") as zf:
        zf.writestr("p.txt", b"fine")
    kept = read_archive_members(spark, f"{root}/*.zip", password="pw",
                                on_error="skip").collect()
    assert {r["member"] for r in kept} == {"p.txt"}
    with pytest.raises(Exception, match="trunc.zip"):
        read_archive_members(spark, f"{root}/trunc.zip",
                             password="pw").collect()


def test_archive_scan_reads_aes_zip(spark, tmp_path):
    """The full distributed path: an AES bundle next to a plain bundle,
    one scan with password= reads both; the fail/skip routing treats a
    missing password exactly like any undecodable archive."""
    root = str(tmp_path)
    secret = [("s/one.txt", b"classified " * 100),
              ("s/two.txt", b"\x00\xffbinary\x07" * 33)]
    wz.write_winzip_aes(os.path.join(root, "secret.zip"), secret, "k3y",
                        salt_seed=b"gate")
    with zipfile.ZipFile(os.path.join(root, "plain.zip"), "w",
                         zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("p.txt", b"open data")

    rows = {(r["member"]): (r["size_bytes"], bytes(r["content"]))
            for r in read_archive_members(
                spark, f"{root}/*.zip", password="k3y").collect()}
    want = dict(secret) | {"p.txt": b"open data"}
    assert {m: (len(c), c) for m, c in want.items()} == rows

    with pytest.raises(Exception, match="secret.zip"):
        read_archive_members(spark, f"{root}/secret.zip").collect()
    survivors = read_archive_members(spark, f"{root}/*.zip",
                                     on_error="skip").collect()
    assert {r["member"] for r in survivors} == {"p.txt"}


def test_property_roundtrip_random_members():
    """Hypothesis drive of the pure codec surface: arbitrary member bytes
    (incl. empty, NUL-laden, deflate-hostile random), arbitrary UTF-8
    names, all strengths, password edge shapes — write → stdlib central
    directory → decrypt must reproduce every byte."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    # printable, no "/", no edge whitespace, 1-30 chars — built from that
    # alphabet, not filtered out of arbitrary text. Among printable
    # characters only U+0020 is whitespace, so it may appear inside only
    edge = st.characters(categories=("L", "M", "N", "P", "S"),
                         exclude_characters="/")
    name_st = st.one_of(edge, st.builds(
        lambda a, mid, b: a + mid + b, edge,
        st.text(st.one_of(edge, st.just(" ")), max_size=28), edge))
    member_st = st.tuples(name_st, st.binary(min_size=0, max_size=4096))

    @settings(max_examples=25, deadline=None)
    @given(members=st.lists(member_st, min_size=1, max_size=4,
                            unique_by=lambda m: m[0]),
           password=st.text(min_size=1, max_size=20),
           strength=st.sampled_from([1, 2, 3]))
    def roundtrip(members, password, strength):
        for name, _ in members:
            assert ("/" not in name and name.isprintable()
                    and name == name.strip() and 1 <= len(name) <= 30)
        buf = io.BytesIO()
        wz.write_winzip_aes(buf, members, password, strength=strength,
                            salt_seed=b"prop")
        blob = buf.getvalue()
        with zipfile.ZipFile(io.BytesIO(blob)) as zf:
            got = {i.filename: wz.read_member(blob, i,
                                              password.encode("utf-8"))
                   for i in zf.infolist()}
        assert got == dict(members)

    roundtrip()
