"""Encrypted OOXML (MS-OFFCRYPTO): agile and standard encryption with
the well-known default password list — Excel encrypts
write-protected workbooks under "VelvetSweatshop", and Tika/POI open
those transparently.

Container: OLE2 with `EncryptionInfo` + `EncryptedPackage` streams.
  * version 4.4  = AGILE  — XML descriptor; SHA-1/256/384/512 spin
    hash, AES-CBC segments of 4096 bytes with per-segment IV =
    H(keyData.salt + LE32(i)); key material unwrapped with the three
    MS-OFFCRYPTO §2.3.4.13 block-key constants.
  * version 2.2 / 3.2 / 4.2 = STANDARD — binary header; ECMA-376
    SHA-1 50k-spin derivation with the 0x36/0x5C X1/X2 construction,
    AES-ECB package.

Wrong-password / unsupported documents raise ValueError (→ the A6
failure route, matching Tika's EncryptedDocumentException).
"""

from __future__ import annotations

import hashlib
import struct
from base64 import b64decode

from .crypto import aes_cbc_decrypt, aes_ecb_decrypt
from .ole2 import Ole2File

# MS-OFFCRYPTO §2.3.4.13 block-key constants (agile key unwrapping)
BK_VERIFIER_INPUT = bytes([0xFE, 0xA7, 0xD2, 0x76, 0x3B, 0x4B, 0x9E,
                           0x79])
BK_VERIFIER_VALUE = bytes([0xD7, 0xAA, 0x0F, 0x6D, 0x30, 0x61, 0x34,
                           0x4E])
BK_KEY_VALUE = bytes([0x14, 0x6E, 0x0B, 0xE7, 0xAB, 0xAC, 0xD0, 0xD6])

DEFAULT_PASSWORDS = ("VelvetSweatshop", "")

_HASHES = {"SHA1": hashlib.sha1, "SHA-1": hashlib.sha1,
           "SHA256": hashlib.sha256, "SHA-256": hashlib.sha256,
           "SHA384": hashlib.sha384, "SHA-384": hashlib.sha384,
           "SHA512": hashlib.sha512, "SHA-512": hashlib.sha512}


def _pad36(b: bytes, n: int) -> bytes:
    return b[:n] if len(b) >= n else b + b"\x36" * (n - len(b))


def _agile_spin_hash(pwd: str, salt: bytes, spin: int, hfn) -> bytes:
    h = hfn(salt + pwd.encode("utf-16-le")).digest()
    for i in range(spin):
        h = hfn(struct.pack("<I", i) + h).digest()
    return h


def _agile_decrypt(info: bytes, pkg: bytes, passwords) -> bytes:
    import re
    xml = info[8:].decode("utf-8", "replace")

    def attrs(tag_re: str) -> dict[str, str]:
        m = re.search(tag_re, xml, re.S)
        if not m:
            raise ValueError("malformed agile EncryptionInfo")
        return dict(re.findall(r'(\w+)="([^"]*)"', m.group(0)))

    kd = attrs(r"<keyData\b[^>]*>")
    ek = attrs(r"<(?:\w+:)?encryptedKey\b[^>]*>")
    kd_salt = b64decode(kd["saltValue"])
    kd_bits = int(kd["keyBits"])
    kd_block = int(kd.get("blockSize", 16))
    kd_hash = _HASHES.get(kd.get("hashAlgorithm", "SHA512").upper())
    ek_salt = b64decode(ek["saltValue"])
    ek_bits = int(ek["keyBits"])
    ek_block = int(ek.get("blockSize", 16))
    spin = int(ek.get("spinCount", 100000))
    ek_hash = _HASHES.get(ek.get("hashAlgorithm", "SHA512").upper())
    if kd_hash is None or ek_hash is None:
        raise ValueError("unsupported OOXML hash algorithm")
    if "AES" not in kd.get("cipherAlgorithm", "AES"):
        raise ValueError("unsupported OOXML cipher")
    evhi = b64decode(ek["encryptedVerifierHashInput"])
    evhv = b64decode(ek["encryptedVerifierHashValue"])
    ekv = b64decode(ek["encryptedKeyValue"])

    key_value = None
    for pwd in passwords:
        h = _agile_spin_hash(pwd, ek_salt, spin, ek_hash)

        def dk(block_key: bytes) -> bytes:
            return _pad36(ek_hash(h + block_key).digest(), ek_bits // 8)

        iv = _pad36(ek_salt, ek_block)
        vin = aes_cbc_decrypt(dk(BK_VERIFIER_INPUT), evhi, iv=iv,
                              strip_padding=False)[:len(ek_salt)]
        want = ek_hash(vin).digest()
        got = aes_cbc_decrypt(dk(BK_VERIFIER_VALUE), evhv, iv=iv,
                              strip_padding=False)[:len(want)]
        if got == want:
            key_value = aes_cbc_decrypt(
                dk(BK_KEY_VALUE), ekv, iv=iv,
                strip_padding=False)[:kd_bits // 8]
            break
    if key_value is None:
        raise ValueError(
            "encrypted OOXML: no default password opens it")
    (size,) = struct.unpack_from("<Q", pkg, 0)
    out = bytearray()
    body = pkg[8:]
    for i in range(0, len(body), 4096):
        seg = body[i:i + 4096]
        if len(seg) % 16:
            seg = seg[:len(seg) - len(seg) % 16]
        iv = _pad36(kd_hash(kd_salt
                            + struct.pack("<I", i // 4096)).digest(),
                    kd_block)
        out += aes_cbc_decrypt(key_value, seg, iv=iv,
                               strip_padding=False)
    return bytes(out[:size])


def _std_key(pwd: str, salt: bytes, key_bytes: int) -> bytes:
    h = hashlib.sha1(salt + pwd.encode("utf-16-le")).digest()
    for i in range(50000):
        h = hashlib.sha1(struct.pack("<I", i) + h).digest()
    h = hashlib.sha1(h + struct.pack("<I", 0)).digest()
    x1 = hashlib.sha1(bytes(0x36 ^ b for b in h.ljust(64, b"\0"))
                      ).digest()
    x2 = hashlib.sha1(bytes(0x5C ^ b for b in h.ljust(64, b"\0"))
                      ).digest()
    return (x1 + x2)[:key_bytes]


def _standard_decrypt(info: bytes, pkg: bytes, passwords) -> bytes:
    flags, hdr_size = struct.unpack_from("<II", info, 4)
    hdr = info[12:12 + hdr_size]
    if len(hdr) < 24:
        raise ValueError("malformed standard EncryptionInfo")
    alg_id, _alg_hash, key_size = struct.unpack_from("<III", hdr, 8)
    if alg_id not in (0x660E, 0x660F, 0x6610):
        raise ValueError("unsupported standard-encryption cipher")
    ver = info[12 + hdr_size:]
    (salt_size,) = struct.unpack_from("<I", ver, 0)
    salt = ver[4:4 + salt_size]
    enc_verifier = ver[4 + salt_size:20 + salt_size]
    (vh_size,) = struct.unpack_from("<I", ver, 20 + salt_size)
    enc_vh = ver[24 + salt_size:24 + salt_size + 32]
    for pwd in passwords:
        key = _std_key(pwd, salt, key_size // 8)
        verifier = aes_ecb_decrypt(key, enc_verifier)
        want = hashlib.sha1(verifier).digest()
        got = aes_ecb_decrypt(key, enc_vh)[:vh_size]
        if got == want:
            (size,) = struct.unpack_from("<Q", pkg, 0)
            body = pkg[8:]
            if len(body) % 16:
                body = body[:len(body) - len(body) % 16]
            return aes_ecb_decrypt(key, body)[:size]
    raise ValueError("encrypted OOXML: no default password opens it")


def decrypt_ooxml(data: bytes,
                  passwords=DEFAULT_PASSWORDS) -> bytes:
    """OLE2-wrapped encrypted OOXML -> the plaintext zip package."""
    ole = Ole2File(data)
    info = ole.read_stream("EncryptionInfo")
    pkg = ole.read_stream("EncryptedPackage")
    if len(info) < 8 or len(pkg) < 8:
        raise ValueError("malformed encrypted OOXML container")
    vmaj, vmin = struct.unpack_from("<HH", info, 0)
    if (vmaj, vmin) == (4, 4):
        return _agile_decrypt(info, pkg, passwords)
    if vmin == 2 and vmaj in (2, 3, 4):
        return _standard_decrypt(info, pkg, passwords)
    raise ValueError(
        f"unsupported OOXML encryption version {vmaj}.{vmin}")
