"""Fernet key derivation for the encrypted cached-CSV scan.

The reference decrypts cached master/officials CSVs with
`Fernet(key).decrypt(...)` before parsing (its data_utils.py:33-45,
427-443). The engine does the same with the installed
`cryptography.fernet.Fernet` (sources/readers.py:read_encrypted_csv).

The reference's legacy fallback re-derives the key from a hard-coded
password via PBKDF2-HMAC-SHA256 (480k iterations, its
data_utils.py:38-43); `derive_key` reproduces the
derivation shape (stdlib hashlib.pbkdf2_hmac) with the credential left
to the caller.
"""

from __future__ import annotations

import base64
import hashlib


def derive_key(password: str, salt: bytes, iterations: int = 480_000) -> bytes:
    """PBKDF2-HMAC-SHA256 key derivation, the reference's legacy-cache
    shape (data_utils.py:38-43) with the credential supplied by the
    caller rather than hard-coded. Returns a urlsafe-base64 Fernet key."""
    raw = hashlib.pbkdf2_hmac("sha256", password.encode(), salt, iterations, 32)
    return base64.urlsafe_b64encode(raw)
