package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer (Sennrich/Haddow/Birch 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") — the REAL
  * subword tokenizer a training-data engine needs next to the whitespace /
  * regex counters (q31): merge rules are TRAINED on the corpus, then every
  * document tokenizes into subword units with a deterministic greedy
  * application of those rules.
  *
  * Scale shape: the corpus-sized work is ONE word-frequency aggregate
  * (explode map-side → groupBy(word) — vocabulary-sized output, the q127
  * LM-table economics); the classic BPE training loop then runs DRIVER-side
  * over that word-frequency dictionary (exactly how the reference
  * implementation trains — pair counts are weighted by word frequency, so
  * the corpus itself is never re-read per merge). Encoding is a native
  * Catalyst expression (`bpe_encode`, graft.functions) — per-row greedy
  * merges against the broadcast rank table, inside whole-stage codegen.
  *
  * Determinism: pair selection breaks count-ties lexicographically and the
  * word table is frequency-then-word ordered before the driver loop, so
  * the same corpus always trains the same merge list — across runs,
  * partitionings, and engines.
  */
object BpeTokenizer {

  /** An ordered merge list; rank = position (lower merges first).
    * `byteLevel` = symbols are GPT-2-style byte characters (every script
    * tokenizes) rather than raw lowercase-latin characters.
    */
  final case class Merges(pairs: IndexedSeq[(String, String)],
      byteLevel: Boolean = false) {
    @transient lazy val rank: Map[(String, String), Int] = pairs.zipWithIndex.toMap
    /** Wire form for the expression's literal child: "left right" strings
      * in rank order (symbols never contain spaces — they come from a
      * non-space alphabet plus the `</w>` marker). Byte-level merge lists
      * lead with the [[ByteLevelHeader]] marker entry; its absence means
      * char-level, so every pre-existing wire list decodes unchanged.
      */
    def encoded: Seq[String] =
      (if (byteLevel) Seq(ByteLevelHeader) else Seq.empty) ++
        pairs.map { case (a, b) => s"$a $b" }
  }

  /** Wire/persistence header marking a byte-level merge list. `#` cannot
    * open a legal merge entry (symbols come from word alphabets and the
    * byte table maps `#` to itself only INSIDE a pair entry, never alone).
    */
  val ByteLevelHeader = "#graft-bpe-byte-level"

  object Merges {
    def decode(wire: Seq[String]): Merges = {
      val (bl, body) =
        if (wire.headOption.contains(ByteLevelHeader)) (true, wire.tail)
        else (false, wire)
      Merges(body.toIndexedSeq.map { s =>
        val i = s.indexOf(' ')
        require(i > 0, s"bad merge entry '$s'")
        (s.substring(0, i), s.substring(i + 1))
      }, byteLevel = bl)
    }
  }

  /** The word end marker — distinguishes "est" inside a word from "est"
    * ending one (the paper's `</w>`). Safe in BOTH modes: char-level words
    * are [a-z] only, and byte-level words come from letter/digit runs
    * (the pre-tokenizer drops `<`, `/`, `>`), so no merged symbol can ever
    * collide with the marker.
    */
  val EndOfWord = "</w>"

  /** GPT-2's public byte→printable-char bijection (Radford et al. 2019,
    * encoder.py `bytes_to_unicode`): visible latin-1 bytes map to
    * themselves; the rest shift into U+0100.. so every symbol is a single
    * printable character and merge entries stay space-free strings. This
    * is what lets ONE merge list tokenize every script — any text is a
    * byte sequence first.
    */
  val ByteChar: Array[Char] = {
    val keep = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    val out = new Array[Char](256)
    var n = 0
    var b = 0
    while (b < 256) {
      if (keep(b)) out(b) = b.toChar
      else { out(b) = (256 + n).toChar; n += 1 }
      b += 1
    }
    out
  }
  private val CharByte: Map[Char, Int] =
    (0 until 256).map(b => ByteChar(b) -> b).toMap

  /** Unicode-aware word split shared by byte-level train and encode:
    * letter/digit runs of ANY script (a CJK run is one "word" — exactly
    * GPT-2's `\p{L}+` behavior; BPE then segments it into learned subword
    * units). Lowercased like every other corpus tokenizer in the engine
    * (identity on unscripted text).
    */
  private val WordRun = "(?U)[^\\p{L}\\p{N}]+"

  private[graft] def splitWordsByteLevel(text: String): Array[String] =
    text.toLowerCase.split(WordRun).filter(_.nonEmpty)

  /** A word as its byte-level symbol sequence (no `</w>`). */
  private[graft] def byteSyms(word: String): Array[String] =
    word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => String.valueOf(ByteChar(b & 0xff)))

  /** Inverse of [[byteSyms]] over a merged token's characters (marker
    * stripped by the caller): chars → bytes → UTF-8.
    */
  private[graft] def bytesOf(sym: String): Array[Byte] =
    sym.toCharArray.map(c => CharByte.getOrElse(c,
      throw new IllegalArgumentException(
        s"'$c' is not a byte-level symbol character")).toByte)

  /** Train `numMerges` merge rules on a corpus (lowercase latin words, the
    * shared q78 corpus tokenizer's alphabet): one distributed
    * word-frequency aggregate bounded to the `maxWords` most frequent
    * words (the training dictionary — rare-tail words contribute ~nothing
    * to pair counts), then the driver loop. Training stops early when no
    * pair occurs twice (merging singletons would memorize the dictionary).
    */
  def train(docs: DataFrame, numMerges: Int, maxWords: Int = 50000): Merges =
    trainOnCounts(wordCounts(docs, "[^a-z]+", maxWords), numMerges)

  /** Byte-level training over EVERY script (the GPT-2 posture): the same
    * single word-frequency aggregate, with unicode letter/digit word runs
    * — a CJK document contributes its (unsegmented) runs, which the byte
    * merges then learn to split.
    */
  def trainByteLevel(docs: DataFrame, numMerges: Int,
      maxWords: Int = 50000): Merges =
    trainOnCountsByteLevel(
      wordCounts(docs, WordRun, maxWords), numMerges)

  private def wordCounts(docs: DataFrame, splitRe: String,
      maxWords: Int): Seq[(String, Long)] =
    docs.select(explode(split(lower(col("text")), splitRe)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** The driver loop over a (word, count) dictionary — exposed so specs
    * can pin the canonical hand example without a SparkSession.
    */
  def trainOnCounts(words: Seq[(String, Long)], numMerges: Int): Merges =
    Merges(trainLoop(words.toArray.map { case (w, n) =>
      (w.map(_.toString).toArray :+ EndOfWord, n)
    }, numMerges))

  /** Byte-level twin: the same loop, seeded with each word's UTF-8 byte
    * symbols — the merge list then segments EVERY script.
    */
  def trainOnCountsByteLevel(words: Seq[(String, Long)], numMerges: Int): Merges =
    Merges(trainLoop(words.toArray.map { case (w, n) =>
      (byteSyms(w) :+ EndOfWord, n)
    }, numMerges), byteLevel = true)

  private def trainLoop(vocab0: Array[(Array[String], Long)],
      numMerges: Int): IndexedSeq[(String, String)] = {
    var vocab = vocab0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    while (round < numMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + n
          i += 1
        }
      }
      // Stop when no pair repeats; break count-ties lexicographically so
      // training is a pure function of the dictionary.
      val best = counts.filter(_._2 >= 2).toSeq
        .sortBy { case ((a, b), n) => (-n, a, b) }.headOption
      best match {
        case None => round = numMerges
        case Some((pair, _)) =>
          merges += pair
          vocab = vocab.map { case (syms, n) => (mergeOnce(syms, pair), n) }
          round += 1
      }
    }
    merges.toIndexedSeq
  }

  private def mergeOnce(syms: Array[String], p: (String, String)): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == p._1 && syms(i + 1) == p._2) {
        out += (p._1 + p._2); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Greedy BPE inference for one word (no `</w>` in the input): repeatedly
    * merge the LOWEST-RANK adjacent pair — the standard application order,
    * which reproduces training exactly on in-dictionary words. Called
    * per word from the `bpe_encode` expression (interpreted AND generated
    * code paths — one implementation, no drift).
    */
  def encodeWord(word: String, m: Merges): Array[String] = {
    if (word.isEmpty) return Array.empty
    var syms =
      if (m.byteLevel) byteSyms(word) :+ EndOfWord
      else (word.map(_.toString) :+ EndOfWord).toArray
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var i = 0
      while (i < syms.length - 1) {
        m.rank.get((syms(i), syms(i + 1))) match {
          case Some(r) if r < bestRank => bestRank = r; bestAt = i
          case _ => ()
        }
        i += 1
      }
      if (bestAt < 0) done = true
      else syms = mergeOnce(syms, (syms(bestAt), syms(bestAt + 1)))
    }
    syms
  }

  /** Tokenize a whole text: the mode's word-split (char-level: lowercase
    * `[^a-z]+`; byte-level: unicode letter/digit runs — every script),
    * each word BPE-encoded, token streams concatenated in order. The
    * row-level entry point the expression calls.
    */
  def encodeText(text: String, m: Merges): Array[String] = {
    val words =
      if (m.byteLevel) splitWordsByteLevel(text)
      else text.toLowerCase.split("[^a-z]+")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < words.length) {
      if (words(i).nonEmpty) out ++= encodeWord(words(i), m)
      i += 1
    }
    out.toArray
  }

  /** Inverse of [[encodeText]] up to the tokenizer's normalization: the
    * space-joined lowercase word stream (exact for both modes — BPE is
    * lossless within a word; inter-word whitespace/punctuation is what
    * the word split discards).
    */
  def decodeTokens(tokens: Seq[String], m: Merges): String = {
    val words = tokens.mkString.split(java.util.regex.Pattern.quote(EndOfWord))
      .filter(_.nonEmpty)
    if (m.byteLevel)
      words.map(w => new String(bytesOf(w),
        java.nio.charset.StandardCharsets.UTF_8)).mkString(" ")
    else words.mkString(" ")
  }

  /** The persisted-tokenizer artifact (`_merges.json`): like every other
    * expensive derived structure in the engine (IVF centroids, inverted
    * postings, MinHash signatures), a trained merge list must be
    * REOPENABLE — a second session encodes identically without retraining
    * the corpus. Published whole through [[graft.mergetree.MetaFiles]], like
    * every other metadata file; [[open]] of a [[save]] is bit-exact by
    * construction (the wire form IS the in-memory order).
    */
  val MergesFile = "_merges.json"

  def save(m: Merges, dir: String): Unit = {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val json = s"""{"version":1,"byte_level":${m.byteLevel},"merges":[""" +
      m.pairs.map { case (a, b) => "\"" + esc(s"$a $b") + "\"" }
        .mkString(",") + "]}"
    graft.mergetree.MetaFiles.publish(java.nio.file.Paths.get(dir, MergesFile), json)
  }

  def open(dir: String): Merges = {
    val text = graft.mergetree.MetaFiles.read(java.nio.file.Paths.get(dir, MergesFile))
    require(text.isDefined, s"no $MergesFile under $dir — train and save() first")
    import org.json4s.DefaultFormats
    import org.json4s.jackson.JsonMethods
    implicit val fmts: org.json4s.Formats = DefaultFormats
    val j = JsonMethods.parse(text.get)
    val ver = (j \ "version").extract[Int]
    require(ver == 1, s"unsupported merges artifact version $ver")
    val bl = (j \ "byte_level").extract[Boolean]
    val body = (j \ "merges").extract[List[String]]
    Merges.decode((if (bl) Seq(ByteLevelHeader) else Seq.empty) ++ body)
  }
}
