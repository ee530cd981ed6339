"""S3 encrypted cached CSV scan: Fernet-encrypted files through the
distributed reader. Decryption is the installed `cryptography` Fernet, as
in the reference; the reader mirrors the reference's `load_raw_file`
(data_utils.py:427-443).
"""

from __future__ import annotations

import base64

import pytest
from cryptography.fernet import Fernet, InvalidToken

from name_deduplication_python_spark.functions.fernet import derive_key
from name_deduplication_python_spark.sources.readers import read_encrypted_csv


def test_derive_key_is_pbkdf2_sha256():
    """Legacy cache keys are PBKDF2-HMAC-SHA256 of a password
    (reference data_utils.py:38-43 shape, credential caller-supplied)."""
    import hashlib

    k = derive_key("pw", b"salt", iterations=1000)
    exp = base64.urlsafe_b64encode(
        hashlib.pbkdf2_hmac("sha256", b"pw", b"salt", 1000, 32)
    )
    assert k == exp
    assert Fernet(k).decrypt(Fernet(k).encrypt(b"x")) == b"x"


# --------------------------------------------------------------------------
# Distributed encrypted-CSV scan
# --------------------------------------------------------------------------


def _write_encrypted(dirpath, key, name: str, csv_text: str) -> None:
    (dirpath / name).write_bytes(Fernet(key).encrypt(csv_text.encode()))


def test_read_encrypted_csv_multi_file(spark, tmp_path):
    key = Fernet.generate_key()
    d = tmp_path / "cache"
    d.mkdir()
    _write_encrypted(d, key, "a.bin", "id,name\n1,ana\n2,bob\n")
    _write_encrypted(d, key, "b.bin", "id,name\n3,cid\n")
    # ragged file: missing `name` -> null-filled, extra col dropped
    _write_encrypted(d, key, "c.bin", "id,extra\n4,zz\n")
    df = read_encrypted_csv(spark, str(d), key)
    rows = {(r["id"], r["name"]) for r in df.collect()}
    assert rows == {("1", "ana"), ("2", "bob"), ("3", "cid"), ("4", None)}
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string"] * 2


def test_read_encrypted_csv_wrong_key_fails_loud(spark, tmp_path):
    key = Fernet.generate_key()
    d = tmp_path / "cache2"
    d.mkdir()
    _write_encrypted(d, key, "a.bin", "id\n1\n")
    with pytest.raises(InvalidToken):
        read_encrypted_csv(spark, str(d), Fernet.generate_key()).collect()


def test_fernet_rejects_tamper_wrong_key_expiry(spark, tmp_path):
    """A flipped ciphertext bit, a wrong key and an expired token (ttl)
    each raise InvalidToken from the reader instead of parsing."""
    key = Fernet.generate_key()
    csv = b"id\n1\n"

    def scan(name: str, token: bytes, read_key: bytes = key, ttl=None):
        d = tmp_path / name
        d.mkdir()
        (d / "a.bin").write_bytes(token)
        return read_encrypted_csv(spark, str(d), read_key, ttl=ttl).collect()

    raw = bytearray(base64.urlsafe_b64decode(Fernet(key).encrypt(csv)))
    raw[30] ^= 1  # flip a ciphertext bit -> HMAC must fail
    with pytest.raises(InvalidToken):
        scan("tampered", base64.urlsafe_b64encode(bytes(raw)))
    with pytest.raises(InvalidToken):
        scan("wrong_key", Fernet(key).encrypt(csv), Fernet.generate_key())
    old = Fernet(key).encrypt_at_time(csv, current_time=1000)
    with pytest.raises(InvalidToken):
        scan("expired", old, ttl=60)
    # the same old token without a ttl still reads
    assert [r["id"] for r in scan("no_ttl", old)] == ["1"]
