package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** PG function-compat layer (SURVEY.md §2.9): the reference's scalar
  * surface (`src/backend/utils/adt/` — formatting.c, timestamp.c,
  * varlena.c) re-expressed as native Catalyst expressions and
  * registrations, never UDFs, so everything stays codegen'd.
  *
  * `builders` are registered into the session's FunctionRegistry (the
  * `CREATE FUNCTION` catalog analog) once per session, by
  * `graft.Tables.configure`.
  */
object PgFunctions {

  /** PG `string_to_array(str, delim)` nuances on top of `split`:
    * empty input → empty array (Spark/DuckDB split would give [""]). */
  private def stringToArray(args: Seq[Expression]): Expression = {
    require(args.length == 2, "string_to_array(str, delim)")
    val Seq(str, delim) = args
    CaseWhen(
      Seq((EqualTo(str, Literal.create("", org.apache.spark.sql.types.StringType)),
        Literal.create(Array.empty[String],
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))),
      Some(StringSplit(str, delim, Literal(-1))))
  }

  /** PG `format(fmt, args...)` (`varlena.c:5572 text_format`) as a
    * COMPILE-TIME template expander: the format string must be a plan
    * literal (the universal usage shape), so the whole call flattens
    * into a Concat of literals and per-conversion expressions — no
    * custom eval, no UDF, every piece a native codegen'd expression.
    * Supported conversions (text_format's full set): `%s` (NULL → empty
    * string), `%L` ≙ quote_literal (`quote.c:74` — single-quote doubling,
    * NULL → the keyword NULL), `%I` ≙ quote_ident (`quote.c:21` —
    * double-quote unless the value already matches
    * `[a-z_][a-z0-9_]*`; the reserved-keyword check is omitted), `%%`,
    * and `%n$` positional references. */
  /** Fold a string-literal argument at registration (the metaphone /
    * jump_hash pattern for plan-time constants), loud otherwise. */
  private def stringLit(e: Expression, what: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String,
        org.apache.spark.sql.types.StringType) => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v.toLong
    case Literal(v: Long, org.apache.spark.sql.types.LongType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an int or bigint literal, got $other")
  }

  /** A frame-feature array: `array<bigint>` without null elements, as
    * frame_sums and frame_energy return it. */
  private def frameArray(e: Expression, what: String): Expression = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false) => e
    case other => throw new IllegalArgumentException(
      s"$what takes an array<bigint> without nulls, got $other")
  }

  private def pgFormat(args: Seq[Expression]): Expression = {
    import org.apache.spark.sql.types.StringType
    val fmt = args.headOption match {
      case Some(Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType)) => s.toString
      case _ => throw new IllegalArgumentException(
        "pg_format: the template must be a string literal")
    }
    val params = args.tail.map(Cast(_, StringType))
    val parts = scala.collection.mutable.ArrayBuffer[Expression]()
    val sb = new StringBuilder
    def flush(): Unit =
      if (sb.nonEmpty) { parts += Literal(sb.toString); sb.clear() }
    var i = 0
    var next = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%') {
        var j = i + 1
        var num = -1
        val ds = fmt.drop(j).takeWhile(_.isDigit)
        if (ds.nonEmpty && fmt.length > j + ds.length && fmt.charAt(j + ds.length) == '$') {
          num = ds.toInt; j += ds.length + 1
          if (num == 0) throw new IllegalArgumentException(
            "pg_format: format specifies argument 0, but arguments are numbered from 1")
        }
        if (j >= fmt.length) throw new IllegalArgumentException(
          s"pg_format: dangling %% in '$fmt'")
        fmt.charAt(j) match {
          case '%' => sb += '%'
          case conv @ ('s' | 'I' | 'L') =>
            // PG: a non-positional specifier consumes "the next argument
            // after the last argument consumed" — positional refs MOVE
            // the cursor (text_format's arg tracking), they don't run on
            // an independent counter
            val idx = if (num > 0) { next = num; num - 1 }
              else { val t = next; next += 1; t }
            require(idx < params.length, s"pg_format: too few arguments for '$fmt'")
            val arg = params(idx)
            flush()
            parts += (conv match {
              case 's' => Coalesce(Seq(arg, Literal("")))
              case 'L' => If(IsNull(arg), Literal("NULL"),
                Concat(Seq(Literal("'"),
                  StringReplace(arg, Literal("'"), Literal("''")), Literal("'"))))
              case 'I' => If(RLike(arg, Literal("^[a-z_][a-z0-9_]*$")), arg,
                Concat(Seq(Literal("\""),
                  StringReplace(arg, Literal("\""), Literal("\"\"")), Literal("\""))))
            })
          case other => throw new IllegalArgumentException(
            s"pg_format: unsupported conversion %$other")
        }
        i = j + 1
      } else { sb += fmt.charAt(i); i += 1 }
    }
    flush()
    Concat(parts.toSeq)
  }

  /** PG `generate_series(start, stop[, step])` as a generator (SRF in the
    * target list, reference nodeFunctionscan.c/nodeProjectSet.c):
    * explode over a codegen'd Sequence — rows stream, nothing collects. */
  private def generateSeries(args: Seq[Expression]): Expression = {
    val seq = args match {
      case Seq(start, stop) => new Sequence(start, stop)
      case Seq(start, stop, step) => new Sequence(start, stop, step)
      case _ => throw new IllegalArgumentException("generate_series(start, stop[, step])")
    }
    Explode(seq)
  }

  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // explicit input casts (the expressions skip Spark's private
    // ImplicitCastInputTypes machinery)
    "pg_to_char" -> { args =>
      PgToChar(Cast(args(0), org.apache.spark.sql.types.DoubleType), args(1)) },
    "pg_age" -> { args =>
      PgAge(Cast(args(0), org.apache.spark.sql.types.TimestampType),
        Cast(args(1), org.apache.spark.sql.types.TimestampType)) },
    "pg_to_char_ts" -> { args =>
      PgToCharTs(Cast(args(0), org.apache.spark.sql.types.TimestampType), args(1)) },
    "pg_to_number" -> { args =>
      PgToNumber(Cast(args(0), org.apache.spark.sql.types.StringType), args(1)) },
    "pg_to_timestamp" -> { args =>
      PgToTimestamp(Cast(args(0), org.apache.spark.sql.types.StringType), args(1)) },
    "string_to_array" -> stringToArray,
    "generate_series" -> generateSeries,
    "pg_format" -> pgFormat,
    "vec_dot" -> { args => VecDot(args(0), args(1)) },
    // PRECONDITION: both arguments ascending-sorted (e.g. via
    // sort_array) — unsorted input returns a silently wrong count
    "sorted_intersect_count" -> { args => SortedIntersectCount(args(0), args(1)) },
    "str_hash31" -> { args => StrHash(args(0), 31L, 0L) },
    "str_hash131" -> { args => StrHash(args(0), 131L, 7L) },
    "vec_l2sq" -> { args => VecL2Sq(args(0), args(1)) },
    "vec_doti" -> { args => VecDotInt(args(0), args(1)) },
    "vec_signbucket" -> { args => VecSignBucket(args(0), args(1)) },
    "svec_dot" -> { args => SvecDot(args(0), args(1)) },
    "porter_stem" -> { args =>
      PorterStem(Cast(args(0), org.apache.spark.sql.types.StringType)) },
    "french_stem" -> { args =>
      FrenchStemExpr(Cast(args(0), org.apache.spark.sql.types.StringType)) },
    "russian_stem" -> { args =>
      RussianStemExpr(Cast(args(0), org.apache.spark.sql.types.StringType)) },
    // daitch_mokotoff(word): the multi-code genealogy soundex (text[])
    "daitch_mokotoff" -> { args =>
      DaitchMokotoffExpr(Cast(args(0), org.apache.spark.sql.types.StringType)) },
    // metaphone(word, maxlen): PG fuzzystrmatch phonetic code; maxlen
    // folds at registration like pair_emit's cap
    "metaphone" -> { args =>
      require(args.length == 2, "metaphone(word, maxlen) takes 2 arguments")
      val maxLen = args(1) match {
        case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"metaphone maxlen must be an int literal, got $other")
      }
      require(maxLen > 0, "metaphone: Requested output length must be > 0")
      MetaphoneExpr(Cast(args(0), org.apache.spark.sql.types.StringType), maxLen)
    },
    // pgp_sym_encrypt/decrypt family (cr04): passphrase folds at
    // registration (the one-signing-key deployment shape, like cr02).
    // SEMANTIC DIVERGENCE FROM PG pgcrypto, visible here because this is
    // where a migrating user reaches for the name: our pgp_sym_encrypt is
    // DETERMINISTIC (fixed query salt + SHA-256(salt‖plaintext)-derived
    // prefix, required so distributed retries/speculative tasks and the
    // DuckDB oracle see one ciphertext per row), whereas PG's pgcrypto
    // draws a random salt per call. Consequence: identical
    // (plaintext, passphrase) pairs produce identical ciphertext, so
    // ciphertext equality leaks plaintext equality across rows. Do NOT
    // use for PII columns where that linkage matters; the alias
    // pgp_sym_encrypt_det below names the semantics explicitly.
    "pgp_sym_encrypt" -> { args =>
      require(args.length == 2, "pgp_sym_encrypt(text, pass) takes 2 arguments")
      PgpSymEncrypt(Cast(args(0), org.apache.spark.sql.types.StringType),
        stringLit(args(1), "pgp_sym_encrypt pass"))
    },
    // Honest-name alias for the deterministic semantics above (same
    // expression; lets pipelines state the determinism in the query text)
    "pgp_sym_encrypt_det" -> { args =>
      require(args.length == 2, "pgp_sym_encrypt_det(text, pass) takes 2 arguments")
      PgpSymEncrypt(Cast(args(0), org.apache.spark.sql.types.StringType),
        stringLit(args(1), "pgp_sym_encrypt_det pass"))
    },
    "pgp_sym_decrypt" -> { args =>
      require(args.length == 2, "pgp_sym_decrypt(bytea, pass) takes 2 arguments")
      PgpSymDecrypt(args(0), stringLit(args(1), "pgp_sym_decrypt pass"))
    },
    "pgp_sym_decrypt_ok" -> { args =>
      require(args.length == 2, "pgp_sym_decrypt_ok(bytea, pass) takes 2 arguments")
      PgpSymDecryptOk(args(0), stringLit(args(1), "pgp_sym_decrypt_ok pass"))
    },
    "aes_cfb128" -> { args =>
      require(args.length == 3, "aes_cfb128(data, key_hex, iv_hex) takes 3 arguments")
      AesCfb128Enc(args(0), stringLit(args(1), "aes_cfb128 key"),
        stringLit(args(2), "aes_cfb128 iv"))
    },
    // word_grams31(text, n, empty_on_short): one-pass word n-gram
    // BIGINT fingerprints (the d-family kernel); n and the short-doc
    // mode fold at registration like pair_emit's cap
    "word_grams31" -> { args =>
      require(args.length == 3,
        "word_grams31(text, n, empty_on_short) takes 3 arguments")
      val n = args(1) match {
        case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"word_grams31 n must be an int literal, got $other")
      }
      val emptyOnShort = args(2) match {
        case Literal(v: Boolean, org.apache.spark.sql.types.BooleanType) => v
        case other => throw new IllegalArgumentException(
          s"word_grams31 empty_on_short must be a boolean literal, got $other")
      }
      WordGrams(Cast(args(0), org.apache.spark.sql.types.StringType), n, emptyOnShort)
    },
    // jump_hash(key, n): the cdbhash row->segment mapper; n folds at
    // registration like pair_emit's cap
    "jump_hash" -> { args =>
      val n = args(1) match {
        case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"jump_hash buckets must be an int literal, got $other")
      }
      JumpHash(Cast(args(0), org.apache.spark.sql.types.LongType), n)
    },
    "unicode_normalize" -> { args =>
      UnicodeNorm(Cast(args(0), org.apache.spark.sql.types.StringType),
        Cast(args(1), org.apache.spark.sql.types.StringType)) },
    // pair_emit(ds, cap): sorted posting list -> candidate pairs,
    // star-degraded past cap (the literal is folded at registration)
    "pair_emit" -> { args =>
      val cap = args(1) match {
        case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"pair_emit cap must be an int literal, got $other")
      }
      PairEmit(args(0), cap)
    },
    "pair_emit_sized" -> { args =>
      val cap = args(1) match {
        case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"pair_emit_sized cap must be an int literal, got $other")
      }
      PairEmitSized(args(0), cap)
    },
    "pair_emit_sized_all" -> { args =>
      val cap = args(1) match {
        case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"pair_emit_sized_all cap must be an int literal, got $other")
      }
      PairEmitSizedAll(args(0), cap)
    },
    "crc24" -> { args =>
      Crc24(Cast(args(0), org.apache.spark.sql.types.BinaryType)) },
    // frame_sums/frame_energy(text, width): per-frame codepoint folds,
    // one O(L) compiled pass per document (m06/m08 kernels)
    "frame_sums" -> { args =>
      args(1) match {
        case Literal(w: Int, org.apache.spark.sql.types.IntegerType) =>
          FrameFeats(args(0), w, energy = false)
        case other => throw new IllegalArgumentException(
          s"frame_sums width must be an int literal, got $other")
      }
    },
    "frame_energy" -> { args =>
      args(1) match {
        case Literal(w: Int, org.apache.spark.sql.types.IntegerType) =>
          FrameFeats(args(0), w, energy = true)
        case other => throw new IllegalArgumentException(
          s"frame_energy width must be an int literal, got $other")
      }
    },
    // scene_census(frame_sums(text, w), threshold) / voiced_runs(
    // frame_energy(text, w), threshold): one segmentation walk over a
    // document's frame features (m08/m09 and m06 kernels)
    "scene_census" -> { args =>
      SceneCensus(frameArray(args(0), "scene_census"), longLit(args(1), "scene_census threshold")) },
    "voiced_runs" -> { args =>
      VoicedRuns(frameArray(args(0), "voiced_runs"), longLit(args(1), "voiced_runs threshold")) },
    // char_grams(text, n): all character n-grams in one O(L·n) pass
    "char_grams" -> { args =>
      args(1) match {
        case Literal(n: Int, org.apache.spark.sql.types.IntegerType) =>
          CharGrams(args(0), n)
        case other => throw new IllegalArgumentException(
          s"char_grams n must be an int literal, got $other")
      }
    },
    // winnow_fps(text, k, w): winnowed k-gram fingerprint set (d13)
    "winnow_fps" -> { args =>
      (args(1), args(2)) match {
        case (Literal(k: Int, org.apache.spark.sql.types.IntegerType),
              Literal(w: Int, org.apache.spark.sql.types.IntegerType)) =>
          WinnowFps(args(0), k, w)
        case other => throw new IllegalArgumentException(
          s"winnow_fps k/w must be int literals, got $other")
      }
    },
    // word_census(text): (tok, cnt) per distinct space-delimited token
    "word_census" -> { args =>
      WordCensusExpr(Cast(args(0), org.apache.spark.sql.types.StringType)) },
    // word_stats(text, 'w1,w2,...'): the census rolled up per document
    "word_stats" -> { args =>
      WordStats(Cast(args(0), org.apache.spark.sql.types.StringType),
        stringLit(args(1), "word_stats stop list")) }
  )
}
