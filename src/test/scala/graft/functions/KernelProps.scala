package graft.functions

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** ScalaCheck properties for the native kernels behind the codegen
  * expressions — checked against independent reference computations
  * (JVM split/md5), not the Spark HOFs (those parities are asserted in
  * the DataFrame specs; here we pin the raw static functions on
  * arbitrary input, including unicode and pathological whitespace).
  */
object KernelProps extends Properties("NativeKernels") {

  private val word: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('_', '-', 'é', '中')))
      .map(_.mkString)
  private val text: Gen[String] = for {
    words <- Gen.listOf(word)
    extraSpaces <- Gen.chooseNum(0, 2)
  } yield words.mkString(" " * (extraSpaces + 1))

  property("tokenize == String.split(\" \", -1)") = Prop.forAll(text) { t =>
    GramOps.tokenize(UTF8String.fromString(t)).toSeq == t.split(" ", -1).toSeq
  }

  property("ngram count and join layout") = Prop.forAll(text, Gen.choose(1, 4)) {
    (t, n) =>
      val toks = t.split(" ", -1)
      val got = GramOps.ngrams(UTF8String.fromString(t), n)
      val want = toks.sliding(n).filter(_.length == n).map(_.mkString("_")).toSeq
      val gotSeq = (0 until got.numElements()).map(got.getUTF8String(_).toString)
      if (toks.length >= n) gotSeq == want else gotSeq.isEmpty
  }

  property("gram stats = totals/distinct of the gram list") =
    Prop.forAll(text, Gen.choose(1, 4)) { (t, n) =>
      val toks = t.split(" ", -1)
      val grams = toks.sliding(n).filter(_.length == n).map(_.mkString("_")).toSeq
      val row = GramOps.stats(UTF8String.fromString(t), n)
      row.getLong(0) == grams.length.toLong &&
        row.getLong(1) == grams.distinct.length.toLong
    }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  property("hexHashArray == parseLong(md5hex(salt+s).take(13), 16)") =
    Prop.forAll(Gen.listOf(word), Gen.oneOf("a#", "b#", "")) { (words, salt) =>
      val arr = new GenericArrayData(
        words.map(w => UTF8String.fromString(w)).toArray[Any])
      val got = MinHashOps.hexHashArray(arr, UTF8String.fromString(salt))
      words.indices.forall { i =>
        got.getLong(i) == java.lang.Long.parseLong(md5hex(salt + words(i)).take(13), 16)
      }
    }

  property("hexHash == parseLong(md5hex(salt+s).take(13), 16)") =
    Prop.forAll(Gen.oneOf(word, Gen.const(""), Gen.asciiPrintableStr),
      Gen.oneOf("a#", "sp#", "")) { (s, salt) =>
      MinHashOps.hexHash(UTF8String.fromString(s), UTF8String.fromString(salt)) ==
        java.lang.Long.parseLong(md5hex(salt + s).take(13), 16)
    }

  property("md5Lanes lane i == parseLong(md5hex(s).slice(8i, 8i+8), 16) % width") =
    Prop.forAll(Gen.oneOf(word, Gen.const(""), Gen.asciiPrintableStr),
      Gen.choose(1L, 1L << 26), Gen.choose(1, 4)) { (s, width, k) =>
      val got = MinHashOps.md5Lanes(UTF8String.fromString(s), width, k)
      val hex = md5hex(s)
      got.numElements() == k && (0 until k).forall { i =>
        got.getLong(i) ==
          java.lang.Long.parseLong(hex.substring(8 * i, 8 * i + 8), 16) % width
      }
    }

  property("minhash slot i == min(h1 + i*h2), empty → nulls") =
    Prop.forAll(Gen.listOf(Gen.choose(0L, (1L << 52) - 1)),
      Gen.choose(1, 8)) { (h1s, num) =>
      val h2s = h1s.map(v => (v * 31) & ((1L << 52) - 1))
      val h1 = new GenericArrayData(h1s.map(Long.box).toArray[Any])
      val h2 = new GenericArrayData(h2s.map(Long.box).toArray[Any])
      val got = MinHashOps.minhash(h1, h2, num)
      if (h1s.isEmpty) (0 until num).forall(got.isNullAt)
      else (0 until num).forall { i =>
        got.getLong(i) == h1s.zip(h2s).map { case (a, b) => a + i * b }.min
      }
    }

  property("simhash16 == per-bit majority of md5 hex digits") =
    Prop.forAll(Gen.listOf(word)) { words =>
      val arr = new GenericArrayData(
        words.map(w => UTF8String.fromString(w)).toArray[Any])
      val want = {
        val hexes = words.map(md5hex)
        (0 until 16).map { j =>
          val vote = hexes.map(h => if (h.charAt(j) >= '8') 1 else -1).sum
          if (vote > 0) 1 << (15 - j) else 0
        }.sum
      }
      MinHashOps.simhash16(arr) == want
    }

  property("simhash64 == per-bit majority over md5(t) ++ md5('#'+t) nibbles") =
    Prop.forAll(Gen.listOf(word)) { words =>
      val arr = new GenericArrayData(
        words.map(w => UTF8String.fromString(w)).toArray[Any])
      val want = {
        val h1 = words.map(md5hex)
        val h2 = words.map(w => md5hex("#" + w))
        (0 until 64).map { j =>
          val hexes = if (j < 32) h1 else h2
          val vote = hexes
            .map(h => if (h.charAt(j % 32) >= '8') 1 else -1).sum
          if (vote > 0) 1L << (63 - j) else 0L
        }.sum
      }
      MinHashOps.simhash64(arr) == want
    }
}
