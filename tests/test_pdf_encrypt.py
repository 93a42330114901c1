"""PDF Standard security handler: RC4 + AES-128, empty user password
(PDF 1.7 §7.6; AES from FIPS-197 with its Appendix C.1 vector pinned)."""

import re

import pytest

from pdf_parser_benchmark_spark.extract import pdf_crypt as pc
from pdf_parser_benchmark_spark.extract.pdf_parser import parse_pdf
from pdf_parser_benchmark_spark.synth.pdf_writer import (
    build_pdf,
    lines_page,
    two_column_page,
)

SPECS = [
    lines_page(["Body one.", "Body two."], header="HDR", footer="FTR",
               heading="Chapter 1"),
    lines_page(["é Ω CMap body"], font="F2"),
    two_column_page(["L1", "L2"], ["R1", "R2"]),
    lines_page(["rotated Reproducible 4.3"], rotate=270),
    lines_page(["tj split page"], use_tj_array=True),
]


def _sig(pages):
    return [(p.rotation, [b.lines for b in p.blocks]) for p in pages]


def test_aes_block_fips197_vector():
    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    rk = pc._key_expansion(key)
    ct = pc._aes_encrypt_block(rk, pt)
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert pc._aes_decrypt_block(rk, ct) == pt


def test_aes256_block_fips197_vector():
    key = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"
    )
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    rk = pc._key_expansion(key)
    ct = pc._aes_encrypt_block(rk, pt)
    assert ct.hex() == "8ea2b7ca516745bfeafc49904b496089"
    assert pc._aes_decrypt_block(rk, ct) == pt


def test_r6_key_roundtrip_and_password_gate():
    """Algorithm 2.B/8/11: /U verifies the empty password, /UE round-trips
    the file key, a wrong password is rejected."""
    fk = bytes(range(32))
    u, ue = pc.r6_user_entries(fk, b"12345678", b"abcdefgh")
    assert len(u) == 48 and len(ue) == 32
    assert pc.r6_verify_user_password(b"", u)
    assert not pc.r6_verify_user_password(b"wrong", u)
    assert pc.r6_retrieve_file_key(b"", u, ue) == fk


def test_rc4_public_vector():
    assert pc.rc4(b"Key", b"Plaintext").hex().upper() == "BBF316E8D940AF0AD3"


def test_fast_crypto_matches_pure():
    """r7: the OpenSSL-backed fast path (used when `cryptography` is
    importable) must be byte-identical to the from-scratch reference
    implementations on every PDF-relevant key size, including the odd RC4
    key lengths that stay on the pure path."""
    data = bytes(range(256)) * 3
    for klen in (5, 6, 7, 10, 12, 16):
        key = bytes(range(1, klen + 1))
        assert pc.rc4(key, data) == pc._rc4_pure(key, data)
    iv = b"\x11" * 16
    for key in (b"k" * 16, b"k" * 32):
        blocks = data[:240]
        assert pc._cbc_encrypt_words(key, blocks, iv) == \
            pc._cbc_encrypt_words_pure(key, blocks, iv)
        ct = pc.aes_cbc_encrypt(key, data[:100], iv)
        assert pc.aes_cbc_decrypt(key, ct) == pc._aes_cbc_decrypt_pure(key, ct)
        nopad = pc._cbc_encrypt_words_pure(key, blocks, iv)
        assert pc._cbc_decrypt_nopad(key, nopad, iv) == \
            pc._cbc_decrypt_nopad_pure(key, nopad, iv)


def test_aes_cbc_roundtrip_all_lengths():
    key = b"0123456789abcdef"
    for n in (0, 1, 15, 16, 17, 100):
        data = bytes(range(256))[:n]
        assert pc.aes_cbc_decrypt(key, pc.aes_cbc_encrypt(key, data, b"\x07" * 16)) == data


@pytest.mark.parametrize("mode", ["rc4", "aes", "aes256"])
def test_encrypted_pdf_parses_identically(mode):
    plain = _sig(parse_pdf(build_pdf(SPECS)))
    data = build_pdf(SPECS, encrypt=mode)
    assert b"/Encrypt" in data and b"/Filter /Standard" in data
    assert _sig(parse_pdf(data)) == plain
    # deterministic bytes (golden-fixture requirement)
    assert data == build_pdf(SPECS, encrypt=mode)


@pytest.mark.parametrize("mode", ["rc4", "aes", "aes256", "aes256r5"])
def test_encrypted_info_strings_and_generation_keys(mode):
    """§7.6.2 string encryption + Algorithm 1 generation-number term: the
    /Info dictionary of an encrypted file (stored at generation 7) decodes
    to plaintext, and page text still extracts byte-identically."""
    from pdf_parser_benchmark_spark.extract.pdf_parser import PdfDocument

    title = "Encrypted Title (v2) — ünïcode\\backslash"
    plain = _sig(parse_pdf(build_pdf(SPECS, info_title=title, info_gen=7)))
    data = build_pdf(SPECS, encrypt=mode, info_title=title, info_gen=7)
    assert _sig(parse_pdf(data)) == plain
    doc = PdfDocument(data)
    assert doc.info()["/Title"] == title
    assert doc.info()["/Producer"] == "synth-writer"
    # the title's plaintext text-string bytes (UTF-16BE w/ BOM, hex form)
    # must NOT appear in the encrypted file
    plain_hex = (b"\xfe\xff" + title.encode("utf-16-be")).hex().encode()
    assert plain_hex in build_pdf(SPECS, info_title=title, info_gen=7)
    assert plain_hex not in data
    # deterministic bytes (golden-fixture requirement)
    assert data == build_pdf(SPECS, encrypt=mode, info_title=title, info_gen=7)


def test_unencrypted_info_dict_roundtrip():
    from pdf_parser_benchmark_spark.extract.pdf_parser import PdfDocument

    data = build_pdf(SPECS, info_title="Plain Title", info_gen=3)
    assert PdfDocument(data).info()["/Title"] == "Plain Title"


def test_info_pdfdoc_encoding_divergent_bytes():
    """ADVICE r3: PDFDocEncoding ≠ Latin-1 in 0x18-0x1F / 0x80-0x9F / 0xA0 —
    e.g. byte 0x83 is U+2026 HORIZONTAL ELLIPSIS and 0x92 is U+2122. Build a
    raw Info dict with those bytes and check the Annex D.2 mapping."""
    from pdf_parser_benchmark_spark.extract.pdf_parser import PdfDocument

    base = build_pdf(SPECS, info_title="XX", info_gen=0)
    assert b"(" not in base.split(b"/Title")[1][:4]  # hex-encoded title
    raw_title = bytes([0x83, 0x84, 0x92, 0x18, 0xA0, 0x41])
    data = base.replace("XX".encode().hex().encode(), raw_title.hex().encode())
    assert PdfDocument(data).info()["/Title"] == "…—™˘€A"
    # and the writer never emits divergent bytes via the latin-1 path
    from pdf_parser_benchmark_spark.synth.pdf_writer import _info_text

    assert _info_text("\x85ctrl").startswith(b"\xfe\xff")  # C1 → UTF-16BE
    roundtrip = build_pdf(SPECS, info_title="caf\xe9 …", info_gen=0)
    assert PdfDocument(roundtrip).info()["/Title"] == "caf\xe9 …"


def test_r5_legacy_revision_opens():
    """ADVICE r2: a legacy AES-256 revision-5 file (plain SHA-256, no
    Algorithm 2.B) must open with the empty user password rather than be
    misreported as password-protected."""
    plain = _sig(parse_pdf(build_pdf(SPECS)))
    data = build_pdf(SPECS, encrypt="aes256r5")
    assert b"/R 5" in data
    assert _sig(parse_pdf(data)) == plain


def test_r5_key_roundtrip_and_password_gate():
    fk = bytes(range(32))
    u, ue = pc.r5_user_entries(fk, b"12345678", b"abcdefgh")
    assert len(u) == 48 and len(ue) == 32
    assert pc.r5_verify_user_password(b"", u)
    assert not pc.r5_verify_user_password(b"wrong", u)
    assert pc.r5_retrieve_file_key(b"", u, ue) == fk


def test_unsupported_v5_revision_raises_distinctly():
    data = build_pdf(SPECS, encrypt="aes256")
    bad = data.replace(b"/V 5 /R 6", b"/V 5 /R 4")
    # strip /Perms so the fast path can't mask the revision check
    with pytest.raises(ValueError, match="unsupported AES-256 revision"):
        parse_pdf(bad)


def test_password_protected_r5_raises():
    data = build_pdf(SPECS, encrypt="aes256r5")
    m = re.search(rb"/U <([0-9a-f]+)>", data)
    bad = data.replace(m.group(1), m.group(1)[::-1])
    with pytest.raises(ValueError, match="password required"):
        parse_pdf(bad)


def test_password_protected_raises():
    data = build_pdf(SPECS, encrypt="rc4")
    m = re.search(rb"/U <([0-9a-f]+)>", data)
    bad = data.replace(m.group(1), m.group(1)[::-1])
    with pytest.raises(ValueError, match="password required"):
        parse_pdf(bad)


def test_password_protected_lands_in_error_column(spark):
    """The pipeline's per-doc guard turns a password-protected PDF into an
    error row, never a task failure."""
    import pandas as pd

    from pdf_parser_benchmark_spark.plans.pipeline import extract_pages

    data = build_pdf(SPECS, encrypt="aes")
    m = re.search(rb"/U <([0-9a-f]+)>", data)
    bad = data.replace(m.group(1), m.group(1)[::-1])
    pdf_rows = pd.DataFrame(
        [
            {"url": "https://x.example/locked.pdf", "warc_ts": None,
             "html": bad, "text": None, "lang": "en"},
            {"url": "https://x.example/open.pdf", "warc_ts": None,
             "html": data, "text": None, "lang": "en"},
        ]
    )
    pages = spark.createDataFrame(
        pdf_rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out = {r["url"]: r for r in extract_pages(pages, n_splits=4).collect()}
    locked = out["https://x.example/locked.pdf"]
    assert locked["error"] and "password" in locked["error"]
    opened = out["https://x.example/open.pdf"]
    assert not opened["error"] and opened["chunk_count"] > 0
    assert "Body one." in opened["text"]


@pytest.mark.parametrize("mode", ["rc4", "aes", "aes256", "aes256r5"])
def test_user_password_protected_opens_with_password(mode):
    """A file with a NON-empty user password refuses the empty flow but
    opens with the right password across every encryption mode."""
    plain = _sig(parse_pdf(build_pdf(SPECS)))
    data = build_pdf(SPECS, encrypt=mode, user_password=b"s3cret")
    with pytest.raises(ValueError, match="password required"):
        parse_pdf(data)
    with pytest.raises(ValueError, match="password required"):
        parse_pdf(data, password=b"wrong")
    assert _sig(parse_pdf(data, password=b"s3cret")) == plain


@pytest.mark.parametrize("mode", ["rc4", "aes", "aes256", "aes256r5"])
def test_owner_password_opens_user_protected_file(mode):
    """The OWNER password ('owner' in the writer) opens a user-protected
    file via Algorithm 7 (classic) / Algorithm 12+9 (R6) / the R5
    single-pass analog (ADVICE r3)."""
    plain = _sig(parse_pdf(build_pdf(SPECS)))
    data = build_pdf(SPECS, encrypt=mode, user_password=b"s3cret")
    assert _sig(parse_pdf(data, password=b"owner")) == plain


def test_owner_password_on_empty_user_file_still_opens():
    data = build_pdf(SPECS, encrypt="rc4")
    plain = _sig(parse_pdf(build_pdf(SPECS)))
    assert _sig(parse_pdf(data, password=b"owner")) == plain
