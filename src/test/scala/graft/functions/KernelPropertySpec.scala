package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Property-style checks of the pure kernel functions against reference
  * set/string math — deterministic seeded sweeps (the FuzzSpec style; the
  * offline cache carries no scalatest-scalacheck bridge), thousands of
  * cases per run, no Spark session needed. */
class KernelPropertySpec extends AnyFunSuite {

  /** (chunk_idx, chunk) of each `tokenChunksData` row. */
  private def chunkPairs(chunks: ArrayData): Seq[(Int, String)] =
    (0 until chunks.numElements()).map { i =>
      val row = chunks.getStruct(i, 2)
      (row.getInt(0), row.getUTF8String(1).toString)
    }

  test("jaccardSim == reference set math for random long arrays (dense + sparse)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 2000) {
      def arr(): Array[Long] = {
        val n = rnd.nextInt(12)
        // dense domain forces duplicates/intersections; sparse exercises order
        if (rnd.nextBoolean()) Array.fill(n)(rnd.nextInt(9).toLong - 4L)
        else Array.fill(n)(rnd.nextLong())
      }
      val a = arr()
      val b = arr()
      val got = SketchKernel.jaccardSim(new GenericArrayData(a), new GenericArrayData(b))
      val sa = a.toSet
      val sb = b.toSet
      val union = (sa ++ sb).size
      val expected = if (union == 0) 1.0 else sa.intersect(sb).size.toDouble / union
      assert(got == expected, s"trial=$trial a=${a.mkString(",")} b=${b.mkString(",")}")
    }
  }

  test("tokenChunks: chunk contents are exactly the stride windows of the split") {
    val rnd = new scala.util.Random(7)
    val vocab = Array("", "a", "bb", "word", "ü", "x1")
    for (trial <- 1 to 2000) {
      val nTok = rnd.nextInt(30)
      val text = Array.fill(nTok max 1)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val stride = 1 + rnd.nextInt(8)
      val size = stride + rnd.nextInt(8)
      val tokens = text.split(" ", -1)
      val chunks = chunkPairs(SketchKernel.tokenChunksData(UTF8String.fromString(text), size, stride))
      val expected = (0 until ((tokens.length - 1) / stride + 1)).map { i =>
        (i, tokens.slice(i * stride, math.min(i * stride + size, tokens.length)).mkString(" "))
      }
      assert(chunks == expected,
        s"trial=$trial text='$text' size=$size stride=$stride")
    }
  }

  test("tokenChunks scales linearly: a 200k-token document chunks in well under a second") {
    // the declarative slice-in-lambda formulation is O(len^2/stride) —
    // ~50 GB of token copying at this size; the native kernel is one
    // boundary pass + one byte-range copy per chunk
    val text = Array.tabulate(200000)(i => "tok" + (i % 997)).mkString(" ")
    val t0 = System.nanoTime()
    val data = SketchKernel.tokenChunksData(UTF8String.fromString(text), 2048, 1024)
    val ms = (System.nanoTime() - t0) / 1e6
    val chunks = chunkPairs(data)
    assert(chunks.length == (200000 - 1) / 1024 + 1)
    assert(chunks.head._2.startsWith("tok0 tok1 "))
    assert(chunks.last._2.endsWith("tok" + (199999 % 997)))
    assert(ms < 1000.0, s"native chunking took ${ms}ms on 200k tokens")
  }

  test("tokenTfData == reference counting for random token streams (empties excluded)") {
    val rnd = new scala.util.Random(11)
    val vocab = Array("", "a", "bb", "word", "ü", "x1", "a") // "a" doubled: force dups
    for (trial <- 1 to 2000) {
      val nTok = rnd.nextInt(30)
      val text = Array.fill(nTok max 1)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val got = SketchKernel.tokenTfData(UTF8String.fromString(text))
      val gotPairs = (0 until got.numElements()).map { i =>
        val row = got.getStruct(i, 2)
        (row.getUTF8String(0).toString, row.getLong(1))
      }
      val tokens = text.split(" ", -1).filter(_.nonEmpty)
      // counts match as a map AND the order is first-occurrence
      val expectedMap = tokens.groupBy(identity).map { case (t, a) => t -> a.length.toLong }
      assert(gotPairs.toMap == expectedMap, s"trial=$trial text='$text'")
      assert(gotPairs.map(_._1) == tokens.distinct.toSeq, s"trial=$trial order text='$text'")
    }
  }

  test("dedupLines == reference first-occurrence dedup for random line streams") {
    val rnd = new scala.util.Random(13)
    val lines = Array("", "a", "line one", "ü", "x")
    for (trial <- 1 to 2000) {
      val n = rnd.nextInt(12)
      val text = Array.fill(n max 1)(lines(rnd.nextInt(lines.length))).mkString("\n")
      val got = SketchKernel.dedupLines(UTF8String.fromString(text)).toString
      val expected = text.split("\n", -1).distinct.mkString("\n")
      assert(got == expected, s"trial=$trial text='${text.replace("\n", "\\n")}'")
    }
  }

  test("dedupSpans == reference coverage-union removal for random token streams") {
    val rnd = new scala.util.Random(19)
    // tiny vocab with a doubled entry: repeats are common, empties included
    val vocab = Array("", "a", "bb", "cc", "a", "word")
    def reference(text: String, w: Int): String = {
      val toks = text.split(" ", -1)
      val n = toks.length
      if (n < w) return text
      val first = scala.collection.mutable.HashMap[String, Int]()
      val covered = Array.fill(n)(false)
      for (i <- 0 to n - w) {
        val sh = toks.slice(i, i + w).mkString(" ")
        if (first.contains(sh)) (i until i + w).foreach(covered(_) = true)
        else first(sh) = i
      }
      toks.indices.filterNot(covered).map(toks).mkString(" ")
    }
    for (trial <- 1 to 3000) {
      val w = 1 + rnd.nextInt(4)
      val nTok = rnd.nextInt(25)
      val text = Array.fill(nTok max 1)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val got = SketchKernel.dedupSpans(UTF8String.fromString(text), w).toString
      assert(got == reference(text, w), s"trial=$trial w=$w text='$text'")
      // the first token provably always survives
      assert(got.split(" ", -1).head == text.split(" ", -1).head, s"trial=$trial")
    }
  }

  test("exciseSpans == reference coverage excision for random (clamped) hit sets") {
    val rnd = new scala.util.Random(23)
    val vocab = Array("", "a", "bb", "cc")
    for (trial <- 1 to 3000) {
      val w = 1 + rnd.nextInt(4)
      val nTok = 1 + rnd.nextInt(20)
      val toks = Array.fill(nTok)(vocab(rnd.nextInt(vocab.length)))
      val text = toks.mkString(" ")
      // hit starts include out-of-range values on both ends: must clamp
      val hits = Array.fill(rnd.nextInt(6))(rnd.nextInt(nTok + 4) - 2)
      val covered = Array.fill(nTok)(false)
      hits.foreach { h =>
        (math.max(h, 0) until math.min(h + w, nTok)).foreach(covered(_) = true)
      }
      val keptToks = toks.indices.filterNot(covered).map(toks)
      val row = SketchKernel.exciseSpans(UTF8String.fromString(text),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(hits.map(x => x: Any)), w)
      assert(row.getLong(0) == nTok.toLong, s"trial=$trial n_tokens")
      assert(row.getLong(1) == keptToks.length.toLong, s"trial=$trial n_kept")
      if (keptToks.isEmpty) assert(row.isNullAt(2), s"trial=$trial expected null clean")
      else assert(row.getUTF8String(2).toString == keptToks.mkString(" "),
        s"trial=$trial w=$w text='$text' hits=${hits.mkString(",")}")
    }
  }

  test("MgBuffer: n exact, no overestimates, superset guarantee for any stream split") {
    val rnd = new scala.util.Random(13)
    val items = Array("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")
    for (trial <- 1 to 1000) {
      val stream = List.fill(rnd.nextInt(200))(items(rnd.nextInt(items.length)))
      val k = 1 + rnd.nextInt(6)
      val nChunks = 1 + rnd.nextInt(5)
      val exact = stream.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
      val groups =
        if (stream.isEmpty) Seq(Nil)
        else stream.grouped(math.max(1, stream.size / nChunks)).toSeq
      val merged = groups.map { chunk =>
        val b = new MgBuffer(k)
        chunk.foreach(b.insert)
        b
      }.reduceLeft { (x, y) => x.mergeFrom(y); x }
      assert(merged.n == stream.size.toLong)
      assert(merged.counts.size <= k)
      val bound = stream.size.toDouble / (k + 1)
      merged.counts.forEach { (it, lb) =>
        assert(lb <= exact(it), s"trial=$trial $it overestimated: $lb > ${exact(it)}")
      }
      exact.foreach { case (it, c) =>
        if (c > bound)
          assert(merged.counts.containsKey(it), s"trial=$trial $it lost (count $c > $bound, k=$k)")
      }
    }
  }
}
