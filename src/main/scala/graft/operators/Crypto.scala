package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.PgCrypto

/** pgcrypto slice (reference `contrib/pgcrypto/pgcrypto.c:129 pg_digest`,
  * `:165 pg_hmac`): content hashing as used by a data pipeline —
  * stable content addresses (digest) and keyed integrity tags (hmac).
  *
  *  - cr01: digest family — md5 + sha256 content addresses per document
  *    plus a leading-nibble distribution audit (a uniform digest spreads
  *    the corpus ~evenly over 16 nibbles; the count column makes the
  *    audit part of the hash-compared result). Full DuckDB oracle.
  *  - cr02: hmac-sha256 content tags (px-hmac.c RFC 2104 construction,
  *    composed from native sha2/unhex/concat — see functions/PgCrypto).
  *    DuckDB's sha256 is VARCHAR-only (no blob digest), so the RFC 2104
  *    inner-digest byte concatenation is not oracle-expressible. The
  *    query therefore hash-compares three things the oracle CAN check:
  *    (a) `tag_hexpad`, the strongest keyed construction DuckDB can
  *    recompute exactly (hexified inner digest — see
  *    PgCrypto.hmacSha256Hexpad); (b) `tag_wellformed`, asserting the
  *    true RFC 2104 tag computed for EVERY document is 64 lowercase hex
  *    chars; (c) `rfc4231_ok`, the RFC 4231 test vectors 1–3 (the same
  *    vectors pgcrypto's expected/hmac-sha2.out regression pins)
  *    evaluated in-plan against their published digests. If the HMAC
  *    composition ever breaks, (b) or (c) flips and the driver's hash
  *    compare fails — no `no_oracle` hole in the artifact.
  *
  *  - cr04: the pgp_sym_encrypt/decrypt round-trip (pgp-encrypt.c,
  *    pgp-decrypt.c — the PII-column encryption users reach for). The
  *    construction is pgcrypto's default parameter set re-expressed
  *    deterministically (functions/PgpSym.scala: RFC 4880 iterated+
  *    salted S2K, OpenPGP-CFB AES-128 with resync + prefix quick
  *    check; fixed salt / content-keyed prefix replacing
  *    pg_strong_random — documented there). AES itself is never
  *    SQL-expressible, so the oracle checks what IS exact: the
  *    no-padding length arithmetic len(ct) = 26 + octet_length(pt),
  *    decrypt∘encrypt = id per row, wrong-key rejection per row, and
  *    the in-plan NIST SP 800-38A CFB128-AES128 vector (the cr02
  *    rfc4231 pattern).
  *
  * The remaining random half of pgcrypto (gen_salt, crypt,
  * gen_random_uuid) is deliberately out: nondeterministic by design,
  * nothing a reproducible analytics pipeline can assert on.
  */
object Crypto {

  private val Key = "graft-signing-key"

  /** RFC 4231 test cases 1–3 evaluated as constant-foldable plan
    * expressions against the published HMAC-SHA-256 digests. */
  private def rfc4231Ok: org.apache.spark.sql.Column = {
    val case1 = PgCrypto.hmacSha256(lit("Hi There"), Array.fill(20)(0x0b.toByte)) ===
      lit("b0344c61d8db38535ca8afceaf0bf12b881dc200c9833da726e9376c2e32cff7")
    val case2 = PgCrypto.hmacSha256(lit("what do ya want for nothing?"), "Jefe") ===
      lit("5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843")
    val case3 = PgCrypto.hmacSha256(unhex(lit("dd" * 50)), Array.fill(20)(0xaa.toByte)) ===
      lit("773ea91e36800e46854db8ebd09181a72959098b3ef8c122d9635514ced565fe")
    case1 && case2 && case3
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cr01_digest" -> { (s, dir) =>
      val d = Tables.df(s, dir, "documents")
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("md5_hex"),
          sha2(col("text").cast("binary"), 256).as("sha256_hex"))
      val dist = d.groupBy(substring(col("sha256_hex"), 1, 1).as("nibble"))
        .agg(count(lit(1)).as("n_docs"))
      d.join(broadcast(dist), substring(col("sha256_hex"), 1, 1) === col("nibble"))
        .select(col("doc_id"), col("md5_hex"), col("sha256_hex"),
          col("nibble"), col("n_docs"))
        .orderBy(col("doc_id"))
    },

    "cr02_hmac" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .select(col("doc_id"),
          PgCrypto.hmacSha256Hexpad(col("text"), Key).as("tag_hexpad"),
          PgCrypto.hmacSha256(col("text"), Key)
            .rlike("^[0-9a-f]{64}$").as("tag_wellformed"),
          rfc4231Ok.as("rfc4231_ok"))
        .orderBy(col("doc_id"))
    },

    // -- armor / dearmor (the pgp-armor.c operation; RFC 4880 §6):
    //    base64 payload wrapped between BEGIN/END lines with the CRC-24
    //    checksum on the `=` line. Wrap column is 64 (the RFC 4880 /
    //    GnuPG convention); pgcrypto's pg_base64_encode wraps at 76, so
    //    the armored TEXT here is GnuPG-shaped, not byte-identical to
    //    pgcrypto output — the CRC-24, payload, and dearmor round-trip
    //    semantics are the same. The checksum is the compiled Crc24
    //    expression (functions/Crc24.scala, check value 0x21CF02 unit-
    //    tested); the oracle re-derives the identical shift/xor fold in
    //    SQL, so the full armored text hash-matches. rt_ok dearmors the
    //    wrapped payload back and compares — generate∘shred = id, per
    //    row. Pure per-row expression pipeline: no shuffle before the
    //    presentation sort.
    "cr04_pgp_sym" -> { (s, dir) =>
      // SP 800-38A F.3.13 CFB128-AES128.Encrypt, segment 1:
      // E(key=2b7e..., iv=000102...) over the canonical plaintext block
      val vecOk = expr(
        """hex(aes_cfb128(unhex('6bc1bee22e409f96e93d7e117393172a'),
                          '2b7e151628aed2a6abf7158809cf4f3c',
                          '000102030405060708090a0b0c0d0e0f'))""") ===
        lit("3B3FD92EB72DAD20333449F8E83CFB4A")
      Tables.df(s, dir, "documents")
        .withColumn("ct", expr(s"pgp_sym_encrypt(text, '$Key')"))
        .select(col("doc_id"),
          length(col("ct")).cast("bigint").as("ct_len"),
          (expr(s"pgp_sym_decrypt(ct, '$Key')") === col("text")).as("rt_ok"),
          (!expr(s"pgp_sym_decrypt_ok(ct, 'not-the-key')") ||
            expr(s"pgp_sym_decrypt(ct, 'not-the-key')") =!= col("text"))
            .as("wrong_key_rejected"),
          vecOk.as("aes_cfb_ok"))
        .orderBy(col("doc_id"))
    },

    "cr03_armor" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .withColumn("payload",
          expr("regexp_replace(substring(text, 1, 120), '[^ -~]', '')"))
        // Spark's base64 emits MIME 76-col \r\n chunks (SPARK-44700);
        // strip them and re-wrap at RFC 4880's 64 columns ourselves
        .withColumn("b64",
          expr("translate(base64(CAST(payload AS BINARY)), '\\r\\n', '')"))
        .withColumn("wrapped", expr("regexp_replace(b64, '(.{64})', '$1\\n')"))
        .withColumn("crc", expr("crc24(payload)"))
        .withColumn("armor", concat(
          lit("-----BEGIN PGP MESSAGE-----\n\n"),
          col("wrapped"), lit("\n="),
          expr("base64(unhex(lpad(hex(crc), 6, '0')))"),
          lit("\n-----END PGP MESSAGE-----\n")))
        .select(col("doc_id"), col("crc").as("crc24"),
          md5(col("armor").cast("binary")).as("armor_md5"),
          (expr("CAST(unbase64(replace(wrapped, '\\n', '')) AS STRING)")
            === col("payload")).as("rt_ok"))
        .orderBy(col("doc_id"))
    }
  )

  def oracle: Map[String, String] = {
    val (ipad, opad) = PgCrypto.padStrings(Key)
    def sq(s: String) = "'" + s.replace("'", "''") + "'"
    Map(
      "cr01_digest" -> """
        WITH d AS (
          SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex
          FROM documents),
        dist AS (
          SELECT substring(sha256_hex, 1, 1) AS nibble, count(*) AS n_docs
          FROM d GROUP BY 1)
        SELECT doc_id, md5_hex, sha256_hex, nibble, n_docs
        FROM d JOIN dist ON substring(d.sha256_hex, 1, 1) = dist.nibble
        ORDER BY doc_id""",
      // tag_wellformed / rfc4231_ok are TRUE on the oracle side by
      // construction: they are the Spark-side self-checks folded into
      // the hash-compared result (see scaladoc above).
      "cr02_hmac" -> s"""
        SELECT doc_id,
          sha256(concat(${sq(opad)}, sha256(concat(${sq(ipad)}, text)))) AS tag_hexpad,
          TRUE AS tag_wellformed,
          TRUE AS rfc4231_ok
        FROM documents
        ORDER BY doc_id""",

      // AES is not SQL-expressible; the oracle checks the exact
      // arithmetic the construction guarantees (no-padding CFB length)
      // and the per-row self-checks folded into the compared result
      // (the cr02 contract — see scaladoc above).
      "cr04_pgp_sym" -> """
        SELECT doc_id,
          CAST(26 + octet_length(encode(text)) AS BIGINT) AS ct_len,
          TRUE AS rt_ok,
          TRUE AS wrong_key_rejected,
          TRUE AS aes_cfb_ok
        FROM documents
        ORDER BY doc_id""",

      // the CRC-24 fold re-derived in SQL (init 0xB704CE=11994318,
      // poly 0x1864CFB=25578747); armor text assembled with chr(10)
      "cr03_armor" -> """
        WITH src AS (
          SELECT doc_id,
            regexp_replace(substring(text, 1, 120), '[^ -~]', '', 'g') AS payload
          FROM documents),
        b AS (
          SELECT doc_id, payload, base64(encode(payload)) AS b64,
            list_reduce(
              list_prepend(CAST(11994318 AS BIGINT),
                list_transform(generate_series(1, length(payload)),
                  i -> CAST(ascii(substring(payload, i, 1)) AS BIGINT))),
              (acc, ch) -> list_reduce(
                list_prepend(xor(acc, ch * 65536), generate_series(1, 8)),
                (a, t) -> CASE WHEN ((a * 2) & 16777216) <> 0
                               THEN xor(a * 2, 25578747) ELSE a * 2 END)) AS crc
          FROM src),
        w AS (
          SELECT doc_id, payload, crc,
            regexp_replace(b64, '(.{64})', '\1' || chr(10), 'g') AS wrapped
          FROM b)
        SELECT doc_id, crc AS crc24,
          md5('-----BEGIN PGP MESSAGE-----' || chr(10) || chr(10)
            || wrapped || chr(10) || '='
            || base64(from_hex(lpad(to_hex(crc), 6, '0'))) || chr(10)
            || '-----END PGP MESSAGE-----' || chr(10)) AS armor_md5,
          (decode(from_base64(replace(wrapped, chr(10), ''))) = payload) AS rt_ok
        FROM w ORDER BY doc_id"""
    )
  }
}
