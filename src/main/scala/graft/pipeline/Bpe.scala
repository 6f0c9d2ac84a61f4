package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Subword tokenization by byte-pair-encoding merges — the exact-count
  * upgrade over [[TextOps.tokenCount]]'s whitespace heuristic (which stays
  * available as the vocab-free fallback). The model is a ranked merge list
  * (the checked-in fixture comes from `tools/gen_bpe_golden.py`, a
  * from-scratch Sennrich-style trainer; any GPT-2-style `merges.txt` with
  * "a b" lines loads the same way).
  *
  * Semantics (mirrored bit-for-bit by the Python golden generator):
  * normalize = lowercase (root locale) + split on whitespace; a word's
  * symbols start as its code points plus a terminal `</w>`; repeatedly
  * merge the LOWEST-RANK adjacent pair present, all occurrences
  * left-to-right, until none applies.
  *
  * Scale shape: the model is one broadcast-sized reference object riding in
  * the native [[graft.functions.BpeCount]] expression (whole-stage codegen,
  * zero UDFs); per-row cost is O(word_len² · merges-hit) worst case with a
  * hash lookup per adjacent pair — the same loop every BPE implementation
  * runs.
  */
final class BpeModel(val merges: Array[(String, String)]) extends Serializable {
  import BpeModel.Eow

  private val ranks = new java.util.HashMap[String, Integer](merges.length * 2)
  merges.zipWithIndex.foreach { case ((a, b), i) =>
    ranks.put(a + "\u0000" + b, Integer.valueOf(i))
  }

  /** Apply the merges to one word (no whitespace inside). */
  def tokenizeWord(word: String): Array[String] = {
    // code-point symbols (not UTF-16 units), matching Python's iteration
    val base = Array.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      base += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    base += Eow
    var sym = base.result()
    var done = false
    while (!done) {
      var bestRank = Int.MaxValue
      var j = 0
      while (j < sym.length - 1) {
        val r = ranks.get(sym(j) + "\u0000" + sym(j + 1))
        if (r != null && r < bestRank) bestRank = r
        j += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        val (a, b) = merges(bestRank)
        val out = Array.newBuilder[String]
        j = 0
        while (j < sym.length) {
          if (j < sym.length - 1 && sym(j) == a && sym(j + 1) == b) { out += a + b; j += 2 }
          else { out += sym(j); j += 1 }
        }
        sym = out.result()
      }
    }
    sym
  }

  def tokenize(text: String): Array[String] =
    if (text == null) Array.empty
    else text.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
      .filter(_.nonEmpty).flatMap(tokenizeWord)

  /** Codegen-friendly wrapper returning Catalyst array data directly
    * (consumed by [[graft.functions.BpeTokens]]).
    */
  def tokenizeArrayData(text: String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val toks = tokenize(text)
    val out = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) {
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(toks(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Exact subword token count (the serving hot path). */
  def countTokens(text: String): Int = {
    if (text == null) return 0
    val ws = text.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
    var n = 0
    var i = 0
    while (i < ws.length) {
      if (ws(i).nonEmpty) n += tokenizeWord(ws(i)).length
      i += 1
    }
    n
  }
}

/** BPE tokens to vocabulary ids: id = position in the vocab list (line
  * index of `bpe_vocab.txt`-style files); tokens absent from the vocab map
  * to `<unk>` = id 0 (the list's head by convention). Serializable so it
  * rides as a reference object in [[graft.functions.BpeEncode]].
  *
  * `byteFallback = true` (GPT-2-style byte coverage, requires a vocab
  * carrying all 256 `<0xNN>` byte tokens plus `</w>` — the
  * `bpe_vocab_bytes.txt` layout): an unknown token decomposes into the
  * UTF-8 byte tokens of its string (a `</w>`-suffixed unknown emits its
  * stem's bytes then the `</w>` id), so unseen scripts lose NO information
  * and [[decode]] round-trips the normalized text exactly. Semantics are
  * pinned token-for-token against `tools/gen_bpe_golden.py`'s
  * `encode_bytefallback` (bpe_ids_bytes_golden.tsv).
  */
final class BpeEncoder(val model: BpeModel, vocab: Array[String],
                       val byteFallback: Boolean = false) extends Serializable {
  require(vocab.nonEmpty, "vocab must at least contain the <unk> token at id 0")

  private val ids = new java.util.HashMap[String, Integer](vocab.length * 2)
  vocab.zipWithIndex.foreach { case (tok, i) => ids.putIfAbsent(tok, Integer.valueOf(i)) }

  private val byteIds: Array[Int] =
    if (!byteFallback) null
    else Array.tabulate(256) { i =>
      val v = ids.get(f"<0x$i%02X>")
      require(v != null, f"byteFallback vocab is missing byte token <0x$i%02X>")
      v.intValue()
    }
  private val eowId: Int =
    if (!byteFallback) -1
    else {
      val v = ids.get(BpeModel.Eow)
      require(v != null, s"byteFallback vocab is missing the ${BpeModel.Eow} token")
      v.intValue()
    }

  def idOf(token: String): Int = {
    val v = ids.get(token)
    if (v == null) 0 else v.intValue()
  }

  private def appendToken(tok: String, out: scala.collection.mutable.ArrayBuilder.ofInt): Unit = {
    val v = ids.get(tok)
    if (v != null) out += v.intValue()
    else if (!byteFallback) out += 0
    else {
      val stem = if (tok.endsWith(BpeModel.Eow)) tok.dropRight(BpeModel.Eow.length) else null
      val bytes = (if (stem != null) stem else tok).getBytes("UTF-8")
      var i = 0
      while (i < bytes.length) { out += byteIds(bytes(i) & 0xFF); i += 1 }
      if (stem != null) out += eowId
    }
  }

  /** `tokenize` then map each token to its id — ONE normalization rule
    * lives in [[BpeModel.tokenize]] (pinned by the Python golden).
    */
  def encode(text: String): Array[Int] = {
    val toks = model.tokenize(text)
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    out.sizeHint(toks.length)
    var i = 0
    while (i < toks.length) { appendToken(toks(i), out); i += 1 }
    out.result()
  }

  /** Inverse of [[encode]] under `byteFallback`: reconstructs the
    * NORMALIZED text (lowercased, single-space-joined words — the only
    * form the tokenizer ever sees). `<unk>` contributes nothing; `</w>`
    * (bare or as a token suffix) becomes the word separator.
    */
  def decode(encoded: Array[Int]): String = {
    val bytes = new java.io.ByteArrayOutputStream(encoded.length * 2)
    encoded.foreach { id =>
      if (id > 0 && id < vocab.length) {
        val tok = vocab(id)
        if (byteFallback && tok.length == 6 && tok.startsWith("<0x") && tok.endsWith(">") &&
            Character.digit(tok.charAt(3), 16) >= 0 && Character.digit(tok.charAt(4), 16) >= 0)
          // hex digits validated: a learned corpus merge that merely LOOKS
          // byte-token-shaped (e.g. "<0xzy>") must emit its UTF-8 bytes
          // below, not throw NumberFormatException out of decode
          bytes.write(Integer.parseInt(tok.substring(3, 5), 16))
        else if (tok == BpeModel.Eow) bytes.write(' ')
        else if (tok.endsWith(BpeModel.Eow)) {
          val b = tok.dropRight(BpeModel.Eow.length).getBytes("UTF-8")
          bytes.write(b, 0, b.length)
          bytes.write(' ')
        } else {
          val b = tok.getBytes("UTF-8")
          bytes.write(b, 0, b.length)
        }
      }
    }
    new String(bytes.toByteArray, "UTF-8").trim
  }

  /** Codegen-friendly wrapper returning Catalyst array data directly. */
  def encodeArrayData(text: String): org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(encode(text))
}

object BpeModel {
  val Eow = "</w>"

  /** Parse "a b" merge lines (rank = line order; blank lines skipped). */
  def load(lines: Iterator[String]): BpeModel = {
    val merges = lines.map(_.trim).filter(_.nonEmpty).map { l =>
      val sp = l.indexOf(' ')
      require(sp > 0 && sp < l.length - 1, s"bad merge line: '$l'")
      (l.substring(0, sp), l.substring(sp + 1))
    }.toArray
    new BpeModel(merges)
  }

  def loadFile(path: String): BpeModel = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try load(src.getLines()) finally src.close()
  }

  /** Persist a (trained) model in the same "a b" merge-line format
    * [[loadFile]] reads — train the vocab once with [[BpeTrainer]], save,
    * serve refit-free.
    */
  def saveFile(model: BpeModel, path: String): Unit = {
    val sb = new StringBuilder
    model.merges.foreach { case (a, b) => sb.append(a).append(' ').append(b).append('\n') }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), sb.toString.getBytes("UTF-8"))
  }

  /** Exact token-count column through the native expression. */
  def countCol(text: Column, model: BpeModel): Column = {
    val bridge = org.apache.spark.sql.graft.GraftSqlBridge
    bridge.column(graft.functions.BpeCount(bridge.expression(text), model))
  }

  /** One token per line, id = line index (line 0 = `<unk>`). */
  def loadVocabFile(path: String): Array[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().toArray finally src.close()
  }

  /** Token-id encoding column through the native expression. */
  def encodeCol(text: Column, encoder: BpeEncoder): Column = {
    val bridge = org.apache.spark.sql.graft.GraftSqlBridge
    bridge.column(graft.functions.BpeEncode(bridge.expression(text), encoder))
  }

  /** Subword tokens column (array<string>) through the native expression. */
  def tokensCol(text: Column, model: BpeModel): Column = {
    val bridge = org.apache.spark.sql.graft.GraftSqlBridge
    bridge.column(graft.functions.BpeTokens(bridge.expression(text), model))
  }
}

/** Distributed BPE vocabulary training — the corpus-side half of the
  * tokenizer story ([[BpeModel]] applies what this learns). Semantics
  * mirror `tools/gen_bpe_golden.py`'s Sennrich-style trainer EXACTLY
  * (the spec compares merges token-for-token):
  * max-count pair per round, ties broken lexicographically on (a, b) —
  * Spark's binary UTF8String ordering IS code-point order (the UTF-8
  * bytewise property), matching Python's tuple-of-str comparison.
  *
  * Scale shape: the corpus is scanned ONCE into a distinct-word frequency
  * table (map-side-combinable groupBy — 100 TB of text compresses to the
  * word vocabulary); every merge round then runs over that bounded table:
  * adjacent-pair explode -> map-side-combinable sum -> TakeOrdered(1)
  * argmax. Driver state is the merge list alone. The symbol state evolves
  * INCREMENTALLY (each round folds only the newest merge into the arrays,
  * the same evolution as the reference trainer — re-tokenizing from
  * scratch with ranked merges can diverge when a later merge re-creates an
  * earlier pair's component string); lineage is truncated by a
  * localCheckpoint every `checkpointEvery` rounds so 200-round trainings
  * neither replay the corpus scan nor build unbounded plans.
  *
  * Merge-loop regimes (the FeatSel gramMaxCols split): the per-round cost
  * used to be a FULL adjacent-pair recount over the word table — one
  * explode + aggregate + TakeOrdered job per merge, ~0.12 s of driver-loop
  * floor latency per round at any corpus size, i.e. hours for a realistic
  * 32k-merge vocabulary. When the distinct-word table fits under
  * `maxLocalWords` (the common case — 100 TB of text still compresses to
  * a bounded vocabulary, and SentencePiece/HF trainers are in-memory for
  * exactly this reason) the merge loop now runs ON THE DRIVER with
  * INCREMENTAL pair counting: pair counts live in a hash map, a
  * lazy-deletion heap serves the argmax, and each merge updates only the
  * words that actually contain the merged pair (delta counting) — zero
  * Spark jobs per round instead of three. Past `maxLocalWords`, the
  * DISTRIBUTED regime is incremental too when the distinct adjacent-pair
  * table fits under `maxLocalPairs` (pairs are symbol-alphabet-scale,
  * far below word count): pair counts + heap live on the driver as in
  * the local loop, but each round's delta is ONE distributed job over
  * only the words containing the merged pair (filter + pair-delta
  * aggregate + bounded collect) — no full recount, no per-round
  * TakeOrdered, and the per-round shuffle is proportional to the pairs
  * the merge actually touched. Only when BOTH bounds are exceeded does
  * the original full per-round recount run. All paths are
  * merge-for-merge identical (same counts, same (count desc, a asc,
  * b asc) tie-break — the driver comparator orders by code points,
  * which equals the distributed argmax's UTF-8 bytewise UTF8String
  * order; BpeSpec pins local ≡ both distributed regimes ≡ Python
  * golden).
  */
object BpeTrainer {

  /** Merge adjacent (a, b) occurrences left-to-right in one pass — the
    * fold is safe without a just-merged flag because the merged token
    * `a + b` can never equal `a` (b is nonempty), so a freshly appended
    * merge can never match as the LEFT side of the next element.
    */
  private def applyMergeCol(sym: Column, a: String, b: String): Column =
    aggregate(sym, lit(Array.empty[String]),
      (acc, s) => when(size(acc) > 0 &&
          element_at(acc, lit(-1)) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** Adjacent (a, b, sign) pair structs of a symbol array — `zip_with`
    * over the two length-(n-1) slices, so sub-2-length arrays yield an
    * empty array with no sequence/guard needed.
    */
  private def adjPairsCol(sym: Column, sign: Int): Column =
    zip_with(slice(sym, lit(1), size(sym) - 1), slice(sym, lit(2), size(sym) - 1),
      (x, y) => struct(x.as("a"), y.as("b"), lit(sign.toLong).as("s")))

  /** Learn up to `nMerges` ranked merges from the corpus text column.
    * `maxLocalWords` gates the driver-local incremental merge loop and
    * `maxLocalPairs` the incremental DISTRIBUTED loop (see the object
    * doc); only past both bounds does the full per-round recount run.
    */
  def train(corpus: DataFrame, textCol: String, nMerges: Int,
            checkpointEvery: Int = 16, maxLocalWords: Int = 2000000,
            maxLocalPairs: Long = 8000000L): BpeModel =
    trainWithRegime(corpus, textCol, nMerges, checkpointEvery, maxLocalWords, maxLocalPairs)._1

  /** [[train]], also naming the regime that produced the merges: "local",
    * "incremental", "recount", or "incremental+recount" when the driver pair
    * table outgrew `maxLocalPairs` mid-run and the recount regime finished.
    */
  private[pipeline] def trainWithRegime(corpus: DataFrame, textCol: String, nMerges: Int,
      checkpointEvery: Int, maxLocalWords: Int, maxLocalPairs: Long): (BpeModel, String) = {
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    // ONE corpus scan: normalized word frequencies (the trainer's working
    // set — bounded by the distinct-word vocabulary, not corpus size).
    // Lazily localCheckpoint'd so the size probe and either merge-loop
    // regime share one materialization of the scan+aggregate.
    val words = corpus
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    // admission-bounded driver regime: a vocabulary that fits runs the
    // zero-jobs-per-round incremental loop; anything over the bound falls
    // through to the distributed recount below (the FeatSel dense-regime
    // split). count + bounded collect, NOT limit().collect() — see the
    // executeTake accumulator-race note in Dedup.connectedComponents.
    if (maxLocalWords > 0 && words.count() <= maxLocalWords) {
      val head = words.collect()
      return (new BpeModel(trainLocalMerges(
        head.map(r => (r.getString(0), r.getLong(1))), nMerges)), "local")
    }
    // base symbols: code points + </w> (an empty-merge model's tokenize)
    val baseModel = new BpeModel(Array.empty)
    val state = words
      .select(BpeModel.tokensCol(col("word"), baseModel).as("sym"), col("cnt"))
      .localCheckpoint(true) // materialize: later rounds never rescan the corpus
    // incremental DISTRIBUTED regime: if the distinct adjacent-pair table
    // fits on the driver, counts + argmax live there and each round runs
    // ONE small delta job (see the object doc). The admission aggregate
    // costs one recount-round equivalent up front; the same count+bounded-
    // collect discipline as the word probe (never limit().collect()).
    if (maxLocalPairs > 0) {
      val pairAgg = state
        .select(col("cnt"), explode(adjPairsCol(col("sym"), 1)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nPairs = pairAgg.count()
      if (nPairs <= maxLocalPairs) {
        val init = pairAgg.collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
        pairAgg.unpersist()
        val (done, rest) = trainDistributedIncremental(state, init, nMerges, checkpointEvery, maxLocalPairs)
        return rest match {
          case None => (new BpeModel(done), "incremental")
          // the pair table outgrew the bound: the recount regime finishes
          // from the symbol state with every merge so far applied
          case Some(folded) =>
            (new BpeModel(recountMerges(folded, done, nMerges, checkpointEvery)), "incremental+recount")
        }
      }
      pairAgg.unpersist()
    }
    (new BpeModel(recountMerges(state, Array.empty, nMerges, checkpointEvery)), "recount")
  }

  /** The full per-round recount regime, continuing after `done` merges
    * from `state0`, the symbol state with those merges applied.
    */
  private def recountMerges(state0: DataFrame, done: Array[(String, String)], nMerges: Int,
                            checkpointEvery: Int): Array[(String, String)] = {
    var state = state0
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)](done.toIndexedSeq: _*)
    var round = merges.length
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val best = state.filter(size(col("sym")) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(0), size(col("sym")) - 2),
          i => struct(element_at(col("sym"), i + 1).as("a"),
            element_at(col("sym"), i + 2).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(desc("c"), asc("a"), asc("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((a, b))
        val next = state.select(applyMergeCol(col("sym"), a, b).as("sym"), col("cnt"))
        state = if ((round + 1) % checkpointEvery == 0) next.localCheckpoint(true) else next
        round += 1
      }
    }
    merges.toArray
  }

  /** Incremental distributed merge loop: pair counts + lazy-deletion heap
    * on the driver (the [[trainLocalMerges]] machinery, minus the word
    * index), the word table distributed. Per round: argmax locally (zero
    * jobs), then ONE job computing the pair-count deltas of the words
    * that contain the merged pair (−cnt for their old adjacent pairs,
    * +cnt for the post-merge ones) and collecting them — pairs touched by
    * one merge, not the full table.
    *
    * The driver pair table gains the new (x, ab) / (ab, y) pairs every
    * round, so its size is re-checked against `maxLocalPairs` after each
    * one: once over, the loop folds its pending merges into a checkpoint
    * and returns it with the merges so far, and the full recount regime
    * finishes the run (merge-for-merge the same sequence).
    *
    * The symbol state is NEVER a chained interpreted lineage: each
    * round's delta query is the single native
    * [[graft.functions.BpeMergeDeltas]] expression over the LAST
    * CHECKPOINT, folding the ≤ checkpointEvery pending merges in one JVM
    * call per word (a first attempt chained when(contains, fold) Projects
    * and the collapsed tree re-evaluated the interpreted fold ~9× per
    * row — slower than the full recount it was replacing); every
    * `checkpointEvery` rounds the pending merges are folded into a new
    * materialized checkpoint by [[graft.functions.BpeFoldMerges]].
    */
  private def trainDistributedIncremental(state0: DataFrame,
      init: Array[((String, String), Long)], nMerges: Int,
      checkpointEvery: Int, maxLocalPairs: Long): (Array[(String, String)], Option[DataFrame]) = {
    val bridge = org.apache.spark.sql.graft.GraftSqlBridge
    var ckpt = state0
    val pending = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val pc = new java.util.HashMap[(String, String), Long]()
    init.foreach { case (p, c) => if (c > 0L) pc.put(p, c) }
    val heapOrd = new java.util.Comparator[(Long, String, String)] {
      def compare(p: (Long, String, String), q: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(q._1, p._1) // count DESC
        if (c != 0) return c
        val a = cpCompare(p._2, q._2) // a ASC
        if (a != 0) a else cpCompare(p._3, q._3) // b ASC
      }
    }
    val heap = new java.util.PriorityQueue[(Long, String, String)](
      math.max(16, pc.size()), heapOrd)
    val it0 = pc.entrySet().iterator()
    while (it0.hasNext) {
      val e = it0.next()
      heap.add((e.getValue, e.getKey._1, e.getKey._2))
    }
    val dirty = new java.util.HashSet[(String, String)]()
    def bump(pair: (String, String), delta: Long): Unit = {
      val now = pc.getOrDefault(pair, 0L) + delta
      if (now <= 0L) pc.remove(pair) else pc.put(pair, now)
      dirty.add(pair)
    }
    def flushDirty(): Unit = {
      val it = dirty.iterator()
      while (it.hasNext) {
        val pair = it.next()
        val now = pc.getOrDefault(pair, 0L)
        if (now > 0L) heap.add((now, pair._1, pair._2))
      }
      dirty.clear()
    }
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      // pop until a live (count matches pc) entry surfaces — lazy deletion
      var best: (String, String) = null
      while (best == null && !heap.isEmpty) {
        val top = heap.poll()
        val pair = (top._2, top._3)
        if (pc.getOrDefault(pair, 0L) == top._1) best = pair
      }
      if (best == null) exhausted = true
      else {
        val (a, b) = best
        merges += ((a, b))
        val deltaCol = bridge.column(graft.functions.BpeMergeDeltas(
          bridge.expression(col("sym")), pending.toArray, a, b))
        val deltas = ckpt
          .select(col("cnt"), explode(deltaCol).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("cnt") * col("p.s")).as("dc"))
          .filter(col("dc") =!= 0L)
          .collect()
        deltas.foreach(r => bump((r.getString(0), r.getString(1)), r.getLong(2)))
        flushDirty()
        pending += ((a, b))
        // the pair table grows by the new (x, ab) / (ab, y) pairs each
        // round: past the bound the driver hands over to the recount regime
        val handOver = pc.size() > maxLocalPairs && merges.length < nMerges
        if (pending.length >= checkpointEvery || handOver) {
          val foldCol = bridge.column(graft.functions.BpeFoldMerges(
            bridge.expression(col("sym")), pending.toArray))
          ckpt = ckpt.select(foldCol.as("sym"), col("cnt")).localCheckpoint(true)
          pending.clear()
        }
        if (handOver) return (merges.toArray, Some(ckpt))
      }
    }
    (merges.toArray, None)
  }

  /** Code-point lexicographic comparison — equal to UTF-8 bytewise order
    * (UTF8String binary comparison), i.e. the distributed argmax's
    * `asc("a"), asc("b")` tie-break and Python's tuple-of-str compare.
    * (Plain String.compareTo is UTF-16 unit order, which ranks U+E000..
    * U+FFFF ABOVE supplementary code points — wrong for this tie-break.)
    */
  private def cpCompare(x: String, y: String): Int = {
    var i = 0
    var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i)
      val cy = y.codePointAt(j)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx)
      j += Character.charCount(cy)
    }
    Integer.compare(x.length - i, y.length - j)
  }

  /** Driver-local merge loop with INCREMENTAL pair counting — identical
    * merge sequence to the distributed recount (BpeSpec pins both against
    * the Python golden and against each other). Pair counts live in a hash
    * map; the argmax is a lazy-deletion heap (entries are (count, a, b)
    * snapshots, discarded on pop when stale); each merge re-counts ONLY
    * the words that still contain the merged pair adjacently, subtracting
    * their old adjacent pairs and adding the post-merge ones — the delta
    * update that makes 32k-merge vocabularies tractable.
    */
  private[pipeline] def trainLocalMerges(words: Array[(String, Long)],
                                         nMerges: Int): Array[(String, String)] = {
    if (nMerges == 0 || words.isEmpty) return Array.empty
    val nw = words.length
    val syms = new Array[Array[String]](nw)
    val cnt = new Array[Long](nw)
    val baseModel = new BpeModel(Array.empty)
    var wi = 0
    while (wi < nw) {
      syms(wi) = baseModel.tokenizeWord(words(wi)._1) // code points + </w>
      cnt(wi) = words(wi)._2
      wi += 1
    }
    val pc = new java.util.HashMap[(String, String), Long]()
    val occ = new java.util.HashMap[(String, String), scala.collection.mutable.ArrayBuffer[Int]]()
    val heapOrd = new java.util.Comparator[(Long, String, String)] {
      def compare(p: (Long, String, String), q: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(q._1, p._1) // count DESC
        if (c != 0) return c
        val a = cpCompare(p._2, q._2) // a ASC
        if (a != 0) a else cpCompare(p._3, q._3) // b ASC
      }
    }
    val heap = new java.util.PriorityQueue[(Long, String, String)](math.max(16, nw), heapOrd)
    // heap entries are pushed per DIRTY PAIR per round (not per adjacent
    // position) — `dirty` batches the updates so a hot pair touched in
    // thousands of words costs one push
    val dirty = new java.util.HashSet[(String, String)]()
    def bump(pair: (String, String), delta: Long, word: Int): Unit = {
      val now = pc.getOrDefault(pair, 0L) + delta
      if (now <= 0L) pc.remove(pair) else pc.put(pair, now)
      dirty.add(pair)
      if (delta > 0 && word >= 0) {
        var buf = occ.get(pair)
        if (buf == null) { buf = scala.collection.mutable.ArrayBuffer[Int](); occ.put(pair, buf) }
        // consecutive duplicates collapsed (full dedupe by the per-merge
        // visited set)
        if (buf.isEmpty || buf.last != word) buf += word
      }
    }
    def flushDirty(): Unit = {
      val it = dirty.iterator()
      while (it.hasNext) {
        val pair = it.next()
        val now = pc.getOrDefault(pair, 0L)
        if (now > 0L) heap.add((now, pair._1, pair._2))
      }
      dirty.clear()
    }
    wi = 0
    while (wi < nw) {
      val s = syms(wi)
      var k = 0
      while (k < s.length - 1) { bump((s(k), s(k + 1)), cnt(wi), wi); k += 1 }
      wi += 1
    }
    flushDirty()
    def containsPair(s: Array[String], a: String, b: String): Boolean = {
      var k = 0
      while (k < s.length - 1) {
        if (s(k) == a && s(k + 1) == b) return true
        k += 1
      }
      false
    }
    def applyMergeLocal(s: Array[String], a: String, b: String): Array[String] = {
      val out = Array.newBuilder[String]
      var k = 0
      while (k < s.length) {
        if (k < s.length - 1 && s(k) == a && s(k + 1) == b) { out += a + b; k += 2 }
        else { out += s(k); k += 1 }
      }
      out.result()
    }
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      // pop until a live (count matches pc) entry surfaces — lazy deletion
      var best: (String, String) = null
      while (best == null && !heap.isEmpty) {
        val top = heap.poll()
        val pair = (top._2, top._3)
        if (pc.getOrDefault(pair, 0L) == top._1) best = pair
      }
      if (best == null) exhausted = true
      else {
        val (a, b) = best
        merges += ((a, b))
        val touched = occ.remove(best) // fully merged below; re-creations re-register
        val visited = new java.util.HashSet[Integer]()
        if (touched != null) touched.foreach { w =>
          if (visited.add(w) && containsPair(syms(w), a, b)) {
            val old = syms(w)
            val c = cnt(w)
            var k = 0
            while (k < old.length - 1) { bump((old(k), old(k + 1)), -c, -1); k += 1 }
            val nw2 = applyMergeLocal(old, a, b)
            syms(w) = nw2
            k = 0
            while (k < nw2.length - 1) { bump((nw2(k), nw2(k + 1)), c, w); k += 1 }
          }
        }
        flushDirty()
      }
    }
    merges.toArray
  }
}
