package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing for training-data pipelines: media rides along
  * as opaque `binary` columns with typed metadata; decode / feature-extract /
  * frame-sample run as per-partition batch transforms.
  *
  * The container ships no image/audio codecs, so the DECODE step is a
  * clearly-marked deterministic stub (`StubCodec`) — but every Spark-side
  * piece a real pipeline needs is genuine and tested: the binary column +
  * metadata schema, partition-parallel `mapPartitions` execution with a typed
  * Encoder (the Scala analog of `mapInPandas` batch processing), the
  * batch-shape contract (one iterator pass, O(partition) memory, no
  * driver collect), and metadata pushdown (m1 never touches bytes, so column
  * pruning keeps the binary column unread).
  *
  * Media bytes are derived deterministically from the driver's `documents`
  * table (`encode(text)` — no synthetic external data), so the DuckDB oracle
  * can verify even the decode-stub outputs arithmetically.
  */
object Multimodal {

  /** A media asset row: opaque payload + typed metadata. */
  case class Asset(doc_id: Long, media_type: String, payload: Array[Byte],
                   n_bytes: Long, source: String)
  /** Stub-decoded per-asset features (what a codec would yield). */
  case class Decoded(doc_id: Long, media_type: String, n_bytes: Long,
                     header_byte: Long, checksum: Long, n_frames: Long)

  /** The `documents` table lifted into a media-asset table: payload =
    * UTF-8 bytes of `text` (deterministic stand-in for image/audio bytes);
    * media_type assigned round-robin for coverage. */
  def assets(s: SparkSession, dir: String): DataFrame =
    assetsOf(Tables.documents(s, dir))

  /** The asset lift over an arbitrary `documents`-shaped relation —
    * shared with the x36 streaming ingest, whose input is the documents
    * STREAM. */
  private[graft] def assetsOf(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
      encode(col("text"), "UTF-8").as("payload"),
      length(col("text")).cast("long").as("n_bytes"),
      col("source"))

  /** ======= STUB CODEC =======
    * Stands in for the real image/audio decode (no codecs in container).
    * Deterministic pure-arithmetic "decode" so outputs stay oracle-checkable:
    * header = first payload byte, checksum = position-weighted byte sum
    * mod 2^31-1, frames = one per 64-byte block (a frame-sampling stand-in).
    * A real deployment swaps ONLY this function for an actual codec call —
    * batch shape, schema, and partitioning are production-real. */
  object StubCodec {
    def decode(a: Asset): Decoded = {
      val bytes = a.payload
      var checksum = 0L
      var i = 0
      while (i < bytes.length) {
        checksum = (checksum + (bytes(i) & 0xffL) * (i + 1)) % 2147483647L
        i += 1
      }
      Decoded(a.doc_id, a.media_type, bytes.length.toLong,
        if (bytes.isEmpty) -1L else (bytes(0) & 0xffL),
        checksum, (bytes.length + 63) / 64)
    }
  }

  /** A perceptual-hash row (see [[StubCodec.phash32]]). */
  case class PHashed(doc_id: Long, phash: Long)

  /** M5 codec half: a 32-bit PERCEPTUAL hash over the payload — bit j
    * covers the STRIDE group of bytes at positions ≡ j (mod 32), summed
    * with a position weight, and is set iff the group's sum is above the
    * asset's mean group sum. Stride groups (not contiguous blocks) because
    * every payload ≥ 32 bytes then fills all 32 bits — contiguous 64-byte
    * blocks left short assets with mostly-zero hashes and a degenerate
    * near-dup relation (measured: 86k of 125k possible pairs within
    * Hamming 3 at sf0.01; stride+weight gives 110). The mean comparison is
    * cross-multiplied (`gsum·nGroups > total`) so everything stays exact
    * integer arithmetic — the DuckDB oracle reproduces it bit-for-bit. A
    * real deployment swaps this for pHash/aHash over decoded pixels;
    * banding, verification, and the batch shape are production-real. */
  def phash32(a: Asset): PHashed = {
    val bytes = a.payload
    val sums = new Array[Long](32)
    var i = 0
    while (i < bytes.length) {
      sums(i % 32) += (bytes(i) & 0xffL) * (i / 32 + 1)
      i += 1
    }
    val nGroups = math.min(bytes.length, 32)
    var total = 0L
    var j = 0
    while (j < nGroups) { total += sums(j); j += 1 }
    var h = 0L
    j = 0
    while (j < nGroups) {
      if (sums(j) * nGroups > total) h |= 1L << j
      j += 1
    }
    PHashed(a.doc_id, h)
  }

  /** M1: metadata-only stats — proves the binary column is NOT read when
    * only metadata is touched (column pruning keeps the scan narrow). */
  def m1_media_meta(s: SparkSession, dir: String): DataFrame =
    assets(s, dir)
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("n_assets"),
           sum(col("n_bytes")).as("total_bytes"),
           max(col("n_bytes")).as("max_bytes"))
      .orderBy("media_type")

  val m1Sql: String =
    """SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  count(*) AS n_assets,
      |  sum(length(text))::BIGINT AS total_bytes,
      |  max(length(text))::BIGINT AS max_bytes
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** M2: partition-parallel decode via typed `mapPartitions` — the
    * batch-processing shape of `mapInPandas`: one pass over each partition's
    * iterator, constant memory, codec amortized per batch. The stub's
    * arithmetic is reproduced by the oracle, so this path is hash-verified
    * end-to-end despite the stubbed codec. */
  def m2_decode_features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    assets(s, dir).as[Asset]
      .mapPartitions { it => it.map(StubCodec.decode) }
      .toDF()
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
              col("header_byte"), col("checksum"), col("n_frames"))
      .orderBy("doc_id")
  }

  val m2Sql: String =
    """WITH b AS (
      |  SELECT doc_id, i, ascii(substring(text, i, 1)) AS byte
      |  FROM documents CROSS JOIN (SELECT unnest(range(1, 1 + (SELECT max(length(text)) FROM documents))) AS i)
      |  WHERE i <= length(text)
      |)
      |SELECT d.doc_id,
      |  CASE d.doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  length(d.text)::BIGINT AS n_bytes,
      |  ascii(substring(d.text, 1, 1))::BIGINT AS header_byte,
      |  (SELECT sum(byte * i) % 2147483647 FROM b WHERE b.doc_id = d.doc_id)::BIGINT AS checksum,
      |  ((length(d.text) + 63) // 64)::BIGINT AS n_frames
      |FROM documents d ORDER BY d.doc_id""".stripMargin

  /** M3: frame-sampling plumbing — explode each asset into per-frame rows
    * (frame id + byte range), the fan-out a video pipeline feeds to a frame
    * decoder. Pure column algebra; the frame table is what `mapInPandas`
    * would consume downstream. */
  def m3_frame_sample(s: SparkSession, dir: String): DataFrame =
    assets(s, dir)
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
        posexplode(sequence(lit(0L), ((col("n_bytes") - 1) / 64).cast("long"))).as(Seq("frame_id", "off")))
      .filter(col("media_type") === "video")
      .select(col("doc_id"), col("frame_id").cast("long").as("frame_id"),
              (col("off") * 64).as("byte_start"),
              least(col("off") * 64 + 64, col("n_bytes")).as("byte_end"))
      .filter(col("frame_id") % 4 === 0) // sample every 4th frame
      .orderBy("doc_id", "frame_id")

  val m3Sql: String =
    """SELECT doc_id, frame_id::BIGINT AS frame_id,
      |  (frame_id * 64)::BIGINT AS byte_start,
      |  least(frame_id * 64 + 64, length(text))::BIGINT AS byte_end
      |FROM documents
      |CROSS JOIN (SELECT unnest(range(0, 1000)) AS frame_id)
      |WHERE doc_id % 3 = 2
      |  AND frame_id <= (length(text) - 1) // 64
      |  AND frame_id % 4 = 0
      |ORDER BY doc_id, frame_id""".stripMargin

  /** M4 media content-hash dedup: exact duplicate assets found by hashing
    * the OPAQUE payload bytes — the first dedup pass every multimodal
    * pipeline runs (same image uploaded twice ⇒ same bytes ⇒ same digest),
    * no codec needed. One hash + one shuffle on the digest; the binary
    * column itself never shuffles (only its 128-bit digest does) — at
    * 100 TB of media that is the difference between shuffling terabytes
    * and shuffling gigabytes. Canonical = min doc_id per digest, groups
    * with ≥ 2 assets reported. (Oracle: payload is `encode(text)`, so
    * `md5(payload)` ≡ DuckDB's `md5(text)` over the UTF-8 bytes.) */
  def m4_media_dedup(s: SparkSession, dir: String): DataFrame =
    assets(s, dir)
      .select(md5(col("payload")).as("content_hash"), col("doc_id"), col("n_bytes"))
      .groupBy(col("content_hash"))
      .agg(count(lit(1)).as("n_assets"),
           min(col("doc_id")).as("canonical_id"),
           min(col("n_bytes")).as("n_bytes"))
      .filter(col("n_assets") >= 2)
      .orderBy("content_hash")

  val m4Sql: String =
    """SELECT md5(text) AS content_hash, count(*) AS n_assets,
      |  min(doc_id) AS canonical_id, min(length(text))::BIGINT AS n_bytes
      |FROM documents
      |GROUP BY 1 HAVING count(*) >= 2
      |ORDER BY content_hash""".stripMargin

  /** M5 media NEAR-dup: m4 catches byte-identical uploads; re-encoded or
    * lightly-edited media needs a perceptual match. Each asset gets the
    * 32-bit [[phash32]] (partition-parallel mapPartitions, the m2 batch
    * shape), then the d4 simhash discipline: 4×8-bit pigeonhole bands →
    * candidate pairs via equi-join on (band, key) — Hamming ≤ 3 over 4
    * bands guarantees a shared band, so banding is COMPLETE, and the
    * quadratic pair space is never materialized — → exact Hamming
    * verification on candidates only. Payload bytes never shuffle; only
    * the 8-byte hash does.
    *
    * Scale limit (shared with d4's simhash): an 8-bit band has 256 keys,
    * so beyond ~10⁵ assets per band-bucket the candidate join turns
    * quadratic — at that corpus size widen the hash to 64 stride groups
    * and band 4×16 (65k keys/band); the pipeline shape is unchanged.
    * That widening is implemented: [[m6_media_neardup]]. */
  def m5_media_neardup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ASCII + non-empty guard (the d6 discipline): the oracle re-derives
    // the hash from per-CHARACTER code points, which equals the engine's
    // per-BYTE arithmetic only for single-byte text, and an empty payload
    // has no byte rows at all on the oracle side. Signed-byte b >= 1 ⟺
    // 0x01..0x7f ⟺ the oracle's regexp_matches(text, '^[\x01-\x7f]*$').
    val ph = assets(s, dir).as[Asset]
      .mapPartitions(_.flatMap { a =>
        if (a.payload.nonEmpty && a.payload.forall(_ >= 1)) Some(phash32(a))
        else None
      }).toDF()
      .localCheckpoint()
    val bands = ph.select(col("doc_id"), col("phash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("phash"), b * 8).bitwiseAND(lit(255L))): _*))
        .as(Seq("band", "key")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              col("a.phash").as("pa"), col("b.phash").as("pb"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("pa").bitwiseXOR(col("pb"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle: phash re-derived per doc in exact integer arithmetic, then
    * ALL pairs filtered by Hamming distance — quadratic is fine for the
    * oracle; the engine's banding must return the identical set. */
  val m5Sql: String =
    """WITH b AS (
      |  SELECT doc_id, i, ascii(substring(text, i, 1)) AS byte
      |  FROM documents CROSS JOIN (SELECT unnest(range(1, 1 + (SELECT max(length(text)) FROM documents))) AS i)
      |  WHERE i <= length(text) AND regexp_matches(text, '^[\x01-\x7f]*$')
      |), blk AS (
      |  SELECT doc_id, (i - 1) % 32 AS j,
      |         sum(byte * ((i - 1) // 32 + 1))::BIGINT AS bsum
      |  FROM b GROUP BY 1, 2
      |), tot AS (
      |  SELECT doc_id, sum(bsum)::BIGINT AS total, count(*)::BIGINT AS nb
      |  FROM blk GROUP BY 1
      |), ph AS (
      |  SELECT blk.doc_id,
      |    sum(CASE WHEN bsum * nb > total THEN 1::BIGINT << j ELSE 0 END)::BIGINT AS phash
      |  FROM blk JOIN tot USING (doc_id) GROUP BY 1
      |)
      |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
      |       bit_count(xor(a.phash, b2.phash))::BIGINT AS hamming
      |FROM ph a JOIN ph b2 ON a.doc_id < b2.doc_id
      |WHERE bit_count(xor(a.phash, b2.phash)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** 64-bit SIGNED-RANDOM-PROJECTION hash — the measured winner of the m6
    * band-saturation study (sf1, 50k assets, duplicate-dense corpus):
    *
    *  - m5's 32-bit above-own-mean hash, 4×8 bands: 105.0M band-bucket
    *    pairs, max bucket 10,490.
    *  - the "obvious" widening (same above-mean bits, 64 groups, 4×16
    *    bands): 188.1M pairs, max bucket 17,770 — WORSE. Measured root
    *    cause: the position weight (i/stride + 1) makes group j's sum
    *    systematically larger iff j < len mod stride, so the bits encode
    *    a near-unary pattern of the text length; the added 32 bits add
    *    bias, not entropy, and buckets skew harder. Key-space width was
    *    never the bottleneck.
    *  - corpus-mean thresholding (bit = group sum above the corpus's mean
    *    for that group): hash diversity collapses to 1,452 distinct values
    *    (templated texts agree with the global mean pattern), 1.58B pairs.
    *  - THIS hash — signed pseudo-random byte weights w(i) =
    *    ((2654435761·i + 40503) mod 1009) − 504, bit j = sign of group j's
    *    weighted sum (the s2 hyperplane-LSH idea applied stride-wise):
    *    zero-mean projections give balanced, decorrelated bits → 49.4M
    *    pairs, max bucket 4,950 — 2.1× below m5 and 3.8× below the naive
    *    widening, against ~2.3M genuine Hamming≤3 pairs in the corpus
    *    (the irreducible floor: sf1's 10-copy cliques and template
    *    near-dups are real candidates banding MUST emit). */
  def phash64(a: Asset): PHashed = {
    val bytes = a.payload
    val sums = new Array[Long](64)
    var i = 0
    while (i < bytes.length) {
      val w = ((2654435761L * (i + 1) + 40503L) % 1009L) - 504L
      sums(i % 64) += (bytes(i) & 0xffL) * w
      i += 1
    }
    var h = 0L
    var j = 0
    while (j < 64) {
      if (sums(j) > 0) h |= 1L << j
      j += 1
    }
    PHashed(a.doc_id, h)
  }

  /** M6: m5's documented band-saturation fix, implemented and MEASURED —
    * the 64-bit signed-random-projection hash ([[phash64]], which records
    * the study that chose it) banded 4×16. Pipeline shape identical to
    * m5 — pigeonhole over 4 bands is still COMPLETE for Hamming ≤ 3,
    * candidates get exact Hamming verification, and only the 8-byte hash
    * ever shuffles. At sf1 the candidate mass drops 2.1× below m5's while
    * the per-band key space grows 256×; the remaining candidates are
    * dominated by the corpus's genuine near-dup pair mass (~2.3M), which
    * no complete banding scheme can prune. */
  def m6_media_neardup(s: SparkSession, dir: String): DataFrame =
    m6Pairs(s, dir).orderBy("doc_a", "doc_b")

  /** m6's verified near-dup pair relation (doc_a < doc_b, hamming ≤ 3) —
    * shared by m6 and the m7 keep-best composite. */
  private def m6Pairs(s: SparkSession, dir: String): DataFrame = {
    val ph = phash64Of(s, assets(s, dir)).localCheckpoint()
    val bands = bandsOf(ph)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              col("a.phash").as("pa"), col("b.phash").as("pb"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("pa").bitwiseXOR(col("pb"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** [[phash64]] over an asset relation (partition-parallel, the m2 batch
    * shape), under the ASCII + non-empty oracle-parity guard — factored
    * from m6 for reuse by the m9 increment. */
  private[graft] def phash64Of(s: SparkSession, as: DataFrame): DataFrame = {
    import s.implicits._
    as.as[Asset].mapPartitions(_.flatMap { a =>
      if (a.payload.nonEmpty && a.payload.forall(_ >= 1)) Some(phash64(a))
      else None
    }).toDF()
  }

  /** The 4x16-bit band rows of a phash relation (doc_id, phash, band, key). */
  private[graft] def bandsOf(ph: DataFrame): DataFrame =
    ph.select(col("doc_id"), col("phash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("phash"), b * 16).bitwiseAND(lit(65535L))): _*))
        .as(Seq("band", "key")))

  /** m6's oracle: the signed-random-projection hash re-derived per doc in
    * exact integer arithmetic (weight formula replicated verbatim; the
    * engine's 0-based byte position i maps to SQL's 1-based i, so both
    * compute w at the same absolute position), then ALL pairs filtered by
    * Hamming distance — quadratic is fine oracle-side; the engine's
    * banding must return the identical set. The j=63 addend is −2⁶³, so
    * the signed sum stays in BIGINT range and equals the engine's
    * two's-complement long. */
  /** The phash64 derivation CTEs (b -> blk -> ph) — shared by the m6 and
    * m9 oracles. */
  private val m6PhCtes: String =
    """b AS (
      |  SELECT doc_id, i, ascii(substring(text, i, 1)) AS byte
      |  FROM documents CROSS JOIN (SELECT unnest(range(1, 1 + (SELECT max(length(text)) FROM documents))) AS i)
      |  WHERE i <= length(text) AND regexp_matches(text, '^[\x01-\x7f]*$')
      |), blk AS (
      |  SELECT doc_id, (i - 1) % 64 AS j,
      |         sum(byte * (((2654435761 * i + 40503) % 1009) - 504))::BIGINT AS bsum
      |  FROM b GROUP BY 1, 2
      |), ph AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN bsum <= 0 THEN 0
      |             WHEN j = 63 THEN -9223372036854775807 - 1
      |             ELSE 1::BIGINT << j END)::BIGINT AS phash
      |  FROM blk GROUP BY 1
      |)""".stripMargin

  private val m6SqlBody: String =
    s"""WITH $m6PhCtes
      |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
      |       bit_count(xor(a.phash, b2.phash))::BIGINT AS hamming
      |FROM ph a JOIN ph b2 ON a.doc_id < b2.doc_id
      |WHERE bit_count(xor(a.phash, b2.phash)) <= 3""".stripMargin

  val m6Sql: String = m6SqlBody + "\nORDER BY doc_a, doc_b"

  /** M7: the media-curation KEEP-BEST composite — what an image/video
    * dataset build actually ships from near-dup detection: m6's verified
    * pair relation → connected components (min-label propagation, shared
    * with d8) → ONE representative kept per duplicate cluster, best-fidelity
    * wins (largest payload; doc_id breaks ties — all-integer, so the
    * decision is hash-exact cross-engine). Emits the drop-list every
    * curation pipeline materializes: each clustered asset with its cluster,
    * cluster size, and keep/drop verdict (assets with no near-dup never
    * enter the relation — they are implicitly kept, and at 100 TB never
    * shuffle at all).
    *
    * Scale shape: inherits m6's banding (payload bytes never shuffle — only
    * 8-byte hashes and ids) and d8's diameter-bounded label propagation
    * (near-dup clusters are shallow; d9's star contraction is the log-depth
    * fallback). The keep decision is one partitioned window over cluster
    * members — no global sort. */
  def m7_media_keep_best(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = Dedup.minLabelComponents(m6Pairs(s, dir))
    val members = labels
      .select(col("n").as("doc_id"), col("lbl").as("cluster_id"))
      .join(assets(s, dir).select(col("doc_id"), col("n_bytes")), Seq("doc_id"))
    val byCluster = Window.partitionBy(col("cluster_id"))
    members
      .withColumn("rk", row_number().over(
        byCluster.orderBy(desc("n_bytes"), asc("doc_id"))))
      .select(col("doc_id"), col("cluster_id"),
              count(lit(1)).over(byCluster).as("n_members"),
              (col("rk") === 1).as("keep"))
      .orderBy("doc_id")
  }

  /** m7's oracle: m6's pair SQL spliced verbatim, components via the d8
    * recursive-reachability discipline, keep = first by (n_bytes DESC,
    * doc_id) per cluster. */
  val m7Sql: String =
    s"""WITH RECURSIVE pairs AS (
       |$m6SqlBody
       |), ed AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION
       |  SELECT doc_b, doc_a FROM pairs
       |), reach(src, node) AS (
       |  SELECT u, u FROM ed
       |  UNION
       |  SELECT r.src, e.v FROM reach r JOIN ed e ON r.node = e.u
       |), comp AS (
       |  SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY 1
       |), q AS (
       |  SELECT c.doc_id, c.cluster_id, length(d.text)::BIGINT AS n_bytes
       |  FROM comp c JOIN documents d USING (doc_id)
       |)
       |SELECT doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS n_members,
       |  (row_number() OVER (PARTITION BY cluster_id
       |     ORDER BY n_bytes DESC, doc_id) = 1) AS keep
       |FROM q ORDER BY doc_id""".stripMargin

  /** M8: the MEDIA DROP LEDGER — c7's loss-accounting discipline applied
    * to the media dedup pipeline: every asset attributed to the first
    * stage that drops it in pipeline order (`exact_dup_loser` — m4's
    * content-hash rule, the cheap pass that runs first; `near_dup_loser` —
    * m7's perceptual keep-best decision; else `kept`), rolled up per
    * media type with BYTE totals — the storage-saved-by-dedup number a
    * curation review reads per modality.
    *
    * Composition over the already-oracled stages (m4's canonical rule,
    * m7's keep flag — same relations, so ledger and pipeline cannot
    * disagree): one hash aggregation, one doc_id-keyed left join against
    * the near-dup decisions, one bounded (type × 3 reasons) rollup. */
  def m8_media_drop_ledger(s: SparkSession, dir: String): DataFrame = {
    val a = assets(s, dir).select(col("doc_id"), col("media_type"),
      col("n_bytes"), md5(col("payload")).as("content_hash"))
    val canon = a.groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"))
    val near = m7_media_keep_best(s, dir).select(col("doc_id"), col("keep"))
    a.join(canon, Seq("content_hash"))
      .join(near, Seq("doc_id"), "left")
      .withColumn("reason",
        when(col("doc_id") =!= col("canonical_id"), "exact_dup_loser")
          .when(col("keep") === false, "near_dup_loser")
          .otherwise("kept"))
      .groupBy(col("media_type"), col("reason"))
      .agg(count(lit(1)).as("n_assets"), sum(col("n_bytes")).as("bytes"))
      .orderBy("media_type", "reason")
  }

  val m8Sql: String =
    s"""WITH a AS (
       |  SELECT doc_id,
       |    (['image', 'audio', 'video'])[(doc_id % 3 + 1)::INT] AS media_type,
       |    length(text)::BIGINT AS n_bytes, md5(text) AS content_hash
       |  FROM documents
       |), canon AS (
       |  SELECT content_hash, min(doc_id) AS canonical_id FROM a GROUP BY 1
       |), near AS (
       |$m7Sql
       |), led AS (
       |  SELECT a.media_type,
       |    CASE WHEN a.doc_id <> c.canonical_id THEN 'exact_dup_loser'
       |         WHEN n.keep = false THEN 'near_dup_loser'
       |         ELSE 'kept' END AS reason,
       |    a.n_bytes
       |  FROM a
       |  JOIN canon c USING (content_hash)
       |  LEFT JOIN near n ON n.doc_id = a.doc_id
       |)
       |SELECT media_type, reason, count(*)::BIGINT AS n_assets,
       |  sum(n_bytes)::BIGINT AS bytes
       |FROM led GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The SETTLED half of the m9 media-ingest increment, staged per
    * (session, dir): the settled digest table (m4's md5 content key) and
    * the settled 4×16 phash band table (m6's signed-random-projection
    * index) — exactly the two warm artifacts a production media ingest
    * keeps between crawl increments (d13's settled-band-table discipline
    * applied to the media family). */
  private[graft] def m9SettledIndex(s: SparkSession,
                                    dir: String): (DataFrame, DataFrame) =
    QUtil.stage(s, ("m9Settled", dir)) {
      val settled = assets(s, dir).filter(col("doc_id") % 10 =!= 0)
      (settled.select(col("doc_id"), md5(col("payload")).as("h"))
         .localCheckpoint(),
       bandsOf(phash64Of(s, settled).localCheckpoint()))
    }

  /** M9: the MEDIA-INGEST INCREMENT — d12/d13's settled-vs-delta
    * discipline applied to the media family, closing the increment story
    * across all four asset classes (text d12/d13, postings t30, vectors
    * s18/x34, media m9): the settled corpus was deduplicated when it
    * settled and keeps its digest + phash band tables warm
    * ([[m9SettledIndex]]); each arriving delta asset (doc_id % 10 = 0)
    * is classified in O(delta) with NO settled×settled work:
    *
    *  1. EXACT tier (m4's content digest, d12's classification): byte-
    *     identical to a settled asset → `dup_of_base` (canonical = lowest
    *     settled id); else to an earlier delta arrival → `dup_in_delta`.
    *  2. PERCEPTUAL tier (m6's machinery, d13's candidate discipline):
    *     the delta's phash band rows equi-join the SETTLED band index and
    *     earlier delta arrivals; candidates get exact Hamming ≤ 3 verify;
    *     the partner is deterministic (settled beats delta, then lowest
    *     id) → `neardup_of_base` / `neardup_in_delta`.
    *  3. Neither → `unique`. Exact beats perceptual (a byte-identical
    *     match needs no Hamming evidence; `hamming` is NULL on exact).
    *
    * Scale shape: per increment ships |delta| digests (16 bytes) and
    * 4·|delta| band rows; the settled side contributes only bucket-
    * matched band rows through the co-partitioned (band, key) join —
    * payload bytes never shuffle anywhere (m6's contract), and the
    * settled tables are append-target artifacts, never recomputed
    * (warm-staging measured at sf1 in STRESS_sf1.md). */
  def m9_incremental_media(s: SparkSession, dir: String): DataFrame = {
    val (digS, bandS) = m9SettledIndex(s, dir)
    m9Classify(s, digS, bandS, assets(s, dir).filter(col("doc_id") % 10 === 0))
  }

  /** The m9 classification against a given settled (digest, band) index —
    * factored so `QueriesSmokeSpec` can drive all five status branches
    * with engineered payload collisions (d12's `incrClassify` pattern). */
  private[graft] def m9Classify(s: SparkSession, digS: DataFrame,
                                bandS: DataFrame,
                                deltaAssets: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val digD = deltaAssets.select(col("doc_id"), md5(col("payload")).as("h"))
      .localCheckpoint() // consumed by the base join and the delta window
    val bandD = bandsOf(phash64Of(s, deltaAssets).localCheckpoint())
    // exact tier: d12's classification against the settled digest index
    val baseMin = digS.groupBy(col("h")).agg(min(col("doc_id")).as("base_id"))
    val exact = digD
      .withColumn("delta_first",
        min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .join(baseMin, Seq("h"), "left")
      .select(col("doc_id"),
        when(col("base_id").isNotNull, lit("dup_of_base"))
          .when(col("doc_id") =!= col("delta_first"), lit("dup_in_delta"))
          .as("status_e"),
        coalesce(col("base_id"),
          when(col("doc_id") =!= col("delta_first"), col("delta_first")))
          .as("dup_e"))
    // perceptual tier: banded candidates against the settled index and
    // earlier delta arrivals, exact Hamming verify, deterministic partner
    val partnerS = bandS.select(col("doc_id").as("cand_id"), col("band"),
                                col("key"), col("phash").as("pb"))
    val partnerD = bandD.select(col("doc_id").as("cand_id"), col("band"),
                                col("key"), col("phash").as("pb"))
    val cand = bandD.join(partnerS, Seq("band", "key"))
        .select(col("doc_id"), col("phash"), col("cand_id"), col("pb"))
        .distinct().withColumn("is_base", lit(true))
      .unionByName(bandD.join(partnerD, Seq("band", "key"))
        .filter(col("cand_id") < col("doc_id"))
        .select(col("doc_id"), col("phash"), col("cand_id"), col("pb"))
        .distinct().withColumn("is_base", lit(false)))
    val near = cand
      .withColumn("hamming",
        bit_count(col("phash").bitwiseXOR(col("pb"))).cast("long"))
      .filter(col("hamming") <= 3)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(when(col("is_base"), lit(0)).otherwise(lit(1)), col("cand_id"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"),
        when(col("is_base"), lit("neardup_of_base"))
          .otherwise(lit("neardup_in_delta")).as("status_n"),
        col("cand_id").as("dup_n"), col("hamming"))
    deltaAssets.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("status_e"), col("status_n"), lit("unique")).as("status"),
        when(col("status_e").isNotNull, col("dup_e")).otherwise(col("dup_n"))
          .as("dup_of"),
        when(col("status_e").isNull, col("hamming")).as("hamming"))
      .orderBy("doc_id")
  }

  /** m9 oracle: the shared phash CTEs, the d12-shape exact tier over
    * md5(text), the quadratic perceptual pair space filtered to the
    * increment's candidate contract (settled partner, or earlier delta) —
    * banding completeness means the engine's banded set must equal it. */
  val m9Sql: String = m9SqlAt("(p.doc_id % 10 <> 0 OR p.doc_id < d.doc_id)")

  /** The x36 (online) variant: perceptual partners restricted to the
    * SETTLED side — the online ingest classifies against the warm index
    * only, and within-increment near-dups are delegated to the batch m9
    * sweep (the x30 → x33 delegation pattern). */
  val m9SettledOnlySql: String = m9SqlAt("p.doc_id % 10 <> 0")

  private def m9SqlAt(partnerPred: String): String =
    s"""WITH $m6PhCtes, dig AS (
      |  SELECT doc_id, md5(text) AS h FROM documents
      |), base AS (
      |  SELECT h, min(doc_id) AS base_id FROM dig WHERE doc_id % 10 <> 0 GROUP BY 1
      |), exact AS (
      |  SELECT dl.doc_id,
      |    CASE WHEN b.base_id IS NOT NULL THEN 'dup_of_base'
      |         WHEN dl.doc_id <> dl.delta_first THEN 'dup_in_delta' END AS status_e,
      |    coalesce(b.base_id,
      |      CASE WHEN dl.doc_id <> dl.delta_first THEN dl.delta_first END) AS dup_e
      |  FROM (SELECT doc_id, h, min(doc_id) OVER (PARTITION BY h) AS delta_first
      |        FROM dig WHERE doc_id % 10 = 0) dl
      |  LEFT JOIN base b USING (h)
      |), cand AS (
      |  SELECT d.doc_id, p.doc_id AS cand_id, p.doc_id % 10 <> 0 AS is_base,
      |         bit_count(xor(d.phash, p.phash))::BIGINT AS hamming
      |  FROM ph d JOIN ph p
      |    ON d.doc_id % 10 = 0 AND $partnerPred
      |  WHERE bit_count(xor(d.phash, p.phash)) <= 3
      |), near AS (
      |  SELECT doc_id,
      |    CASE WHEN is_base THEN 'neardup_of_base'
      |         ELSE 'neardup_in_delta' END AS status_n,
      |    cand_id AS dup_n, hamming
      |  FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY CASE WHEN is_base THEN 0 ELSE 1 END, cand_id) AS rn
      |    FROM cand)
      |  WHERE rn = 1
      |)
      |SELECT dl.doc_id,
      |  coalesce(e.status_e, n.status_n, 'unique') AS status,
      |  CASE WHEN e.status_e IS NOT NULL THEN e.dup_e ELSE n.dup_n END AS dup_of,
      |  CASE WHEN e.status_e IS NULL THEN n.hamming END AS hamming
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) dl
      |LEFT JOIN exact e ON e.doc_id = dl.doc_id
      |LEFT JOIN near n ON n.doc_id = dl.doc_id
      |ORDER BY dl.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m9_incremental_media" -> (m9_incremental_media _),
    "m8_media_drop_ledger" -> (m8_media_drop_ledger _),
    "m7_media_keep_best" -> (m7_media_keep_best _),
    "m6_media_neardup"   -> (m6_media_neardup _),
    "m5_media_neardup"   -> (m5_media_neardup _),
    "m4_media_dedup"     -> (m4_media_dedup _),
    "m1_media_meta"      -> (m1_media_meta _),
    "m2_decode_features" -> (m2_decode_features _),
    "m3_frame_sample"    -> (m3_frame_sample _))

  val oracles: Map[String, String] = Map(
    "m9_incremental_media" -> m9Sql,
    "m8_media_drop_ledger" -> m8Sql,
    "m7_media_keep_best" -> m7Sql,
    "m6_media_neardup"   -> m6Sql,
    "m5_media_neardup"   -> m5Sql,
    "m4_media_dedup"     -> m4Sql,
    "m1_media_meta"      -> m1Sql,
    "m2_decode_features" -> m2Sql,
    "m3_frame_sample"    -> m3Sql)
}
