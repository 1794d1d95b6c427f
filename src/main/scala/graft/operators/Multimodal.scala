package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Present._
import graft.Tables

/** Multimodal-column plumbing (SURVEY §2.C): media payloads travel as opaque
  * `BinaryType` columns next to typed metadata, and decode / feature-extract
  * steps run as partition-local typed transformations.
  *
  * The container has no image/audio codecs, so [[StubDecoder.decode]] is a
  * clearly-marked deterministic FAKE — it derives "decoded" properties from
  * the payload bytes alone. Everything around it is the real engine surface:
  * the schema contract, the binary column handling, the `Dataset.mapPartitions`
  * batch shape (one decoder instantiation per partition, not per row — the
  * same shape a JNI/codec binding needs), and partition-parallel execution
  * with no shuffle.
  */
object Multimodal {
  type Q = (SparkSession, String) => DataFrame

  /** Typed record for a decoded media asset. */
  final case class DecodedAsset(
      doc_id: Long,
      n_bytes: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      checksum: Long)

  /** STUB: stands in for a real image/video decoder. Deterministic in the
    * payload bytes; replace with a codec binding in production.
    */
  object StubDecoder {
    def decode(docId: Long, payload: Array[Byte]): DecodedAsset = {
      var checksum = 0L
      var i = 0
      while (i < payload.length) {
        checksum = (checksum * 31 + (payload(i) & 0xff)) % 1000000007L
        i += 1
      }
      DecodedAsset(
        doc_id = docId,
        n_bytes = payload.length.toLong,
        width = 64 + (payload.length % 577),
        height = 64 + ((payload.length * 31) % 417),
        n_frames = 1 + (checksum % 7).toInt,
        checksum = checksum)
    }
  }

  /** Attaches an opaque binary `payload` column (here: utf-8 text bytes —
    * the fixture carries no real media) plus byte-level metadata.
    */
  def withBinaryPayload(docs: DataFrame): DataFrame =
    docs.withColumn("payload", col("text").cast("binary"))
      .withColumn("n_bytes", octet_length(col("text")).cast(LongType))

  /** Partition-local decode: one decoder per partition, streamed rows. */
  def decodeAssets(spark: SparkSession, docs: DataFrame): Dataset[DecodedAsset] = {
    import spark.implicits._
    withBinaryPayload(docs)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // Real codecs are expensive to construct: do it once per partition.
        rows.map { case (id, bytes) => StubDecoder.decode(id, bytes) }
      }
  }

  /** STUB feature extraction: payload → dense float vector (here a seeded
    * hash projection; in production an encoder model). The output schema and
    * batch shape are the real contract — the vectors feed [[Similarity]]
    * unchanged.
    */
  def extractFeatures(spark: SparkSession, docs: DataFrame, dim: Int = 16): DataFrame = {
    import spark.implicits._
    withBinaryPayload(docs)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val v = new Array[Float](dim)
          var h = 1469598103934665603L
          var i = 0
          while (i < bytes.length) {
            h = (h ^ (bytes(i) & 0xff)) * 1099511628211L
            v((i % dim)) += ((h % 1000L) / 1000.0f)
            i += 1
          }
          (id, v)
        }
      }.toDF("doc_id", "embedding")
  }

  /** STUB resize: recompute target dims preserving aspect ratio (metadata
    * math is real; pixel work would live in the per-partition decoder).
    */
  def resizeMeta(assets: Dataset[DecodedAsset], maxSide: Int): DataFrame = {
    val d = assets.toDF()
    val scaleNum = lit(maxSide)
    val longest = greatest(col("width"), col("height"))
    d.withColumn("out_width",
        when(longest <= maxSide, col("width"))
          .otherwise((col("width") * scaleNum / longest).cast("int")))
      .withColumn("out_height",
        when(longest <= maxSide, col("height"))
          .otherwise((col("height") * scaleNum / longest).cast("int")))
  }

  /** STUB frame sampling: pick every `stride`-th frame index per asset —
    * a generator (posexplode shape) over the decoded frame count.
    */
  def sampleFrames(assets: Dataset[DecodedAsset], stride: Int): DataFrame =
    assets.toDF()
      .select(col("doc_id"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_idx"))

  /** Frame-fingerprint near-dup pairs ACROSS assets — dedup extended to the
    * multimodal column: two videos are near-duplicate candidates when their
    * SAMPLED frames share ≥ `minShared` perceptual fingerprints (the
    * frame-hash dedup a video pipeline runs; the same inverted-index
    * blocking as q115's rare-shingle containment, with frame hashes as the
    * postings). The STUB fingerprint is arithmetic on the decoded checksum
    * + frame index into `buckets` hash cells — a real pipeline swaps in a
    * pHash per decoded frame; the relational shape (sample → fingerprint →
    * posting join → pair count ≥ k) is what this operator is.
    *
    * Scale shape: one generator pass (frames per asset, bounded by the
    * stride budget — never corpus²), one exchange on the dense fingerprint
    * key, pair counting on the (a, b) key. Posting lists are capped at
    * `maxPosting` smallest doc_ids (the q115 boilerplate-frame hazard: an
    * intro/outro card shared by a million videos must cost a bounded list,
    * not a quadratic bucket); the cap cannot bind at fixture scale
    * (measured max posting ≈ tens ≪ 1024), so the uncapped oracle is exact.
    *
    * Fingerprint SPACE (round 13): default `buckets` is 2²⁰, not the old
    * 2048. A perceptual hash is a 64-bit space; folding it into 2048 cells
    * saturates once postings ≫ cells — at the sf1 point the 2048-cell run
    * emitted 805,901 "pairs" of which all but ~1,626 were bucket-collision
    * noise that ALSO dominated the wall (5M+ intermediate pairs, 2.5 s vs
    * 0.8 s measured). The accidental-collision pair
    * rate scales ~postings²/buckets, so at 100 TB the space must scale with
    * the corpus (or use the raw 64-bit fingerprint and drop the modulus);
    * the parameter stays for callers modeling genuinely small hash spaces.
    */
  def frameDupPairs(assets: Dataset[DecodedAsset], stride: Int = 2,
                    buckets: Int = 1 << 20, minShared: Int = 2,
                    maxPosting: Int = 1024): DataFrame =
    frameDupPairsMeta(assets.toDF(), stride, buckets, minShared, maxPosting)

  /** [[frameDupPairs]]' relational core over a plain `(doc_id, checksum,
    * n_frames)` meta frame — the entry for callers whose decoded metadata is
    * already a declarative derivation (q134 computes the checksum with the
    * native `graft_fingerprint` codegen expression instead of the typed
    * `mapPartitions` decode: one fused per-row fold inside whole-stage
    * codegen, no encoder round-trip — the decode PLUMBING stays certified by
    * q54, which is about the mapPartitions batch shape, not this operator).
    *
    * CONTRACT: `doc_id` must be unique across `meta` rows — the per-doc
    * fingerprint set is deduplicated ROW-locally (array_distinct), so a
    * doc_id appearing in two rows would double its postings and inflate
    * `shared` counts versus a corpus-wide-distinct oracle (ADVICE r13).
    * CONTRACT (r17): `doc_id` must be in [0, 2^31) — the fused posting
    * aggregate packs pairs into one long; out-of-range ids fail loudly at
    * update (see [[graft.expressions.PostingPairs]]).
    */
  def frameDupPairsMeta(meta: DataFrame, stride: Int, buckets: Int,
                        minShared: Int, maxPosting: Int): DataFrame = {
    // per-doc fingerprint SET built row-locally (array_distinct over the
    // sampled-frame fingerprints) and then exploded — doc_id is unique per
    // meta row (the contract above), so this is the old `.distinct()` on
    // (doc_id, fp) WITHOUT its corpus-wide exchange: the only shuffle
    // before the pair aggregate is the fp-keyed bucket grouping
    val fps = meta
      .select(col("doc_id"),
        explode(expr(
          s"array_distinct(transform(sequence(0, n_frames - 1, $stride), " +
            s"i -> (checksum * 131L + CAST(i AS BIGINT) * 2654435761L) % $buckets))"))
          .as("fp"))
    // ONE bucket aggregate generates the pairs directly (round 14; was a
    // per-fp cap WINDOW + checkpoint + posting self-join — three extra
    // stages whose scheduling floor WAS the q134 wall once the 2^20 space
    // fix shrank the data to ~10^5 postings): per bucket, keep the
    // maxPosting SMALLEST doc_ids (same sorted-first-K semantics the
    // window's row_number gave — the flood guard: a saturated bucket
    // contributes at most maxPosting² pairs) and emit its (a < b)
    // combinations; the second exchange counts shared fingerprints per
    // pair. Two shuffles total, nothing re-read twice. The cap is enforced
    // INSIDE the aggregate: round 17 fused the whole posting stage —
    // k-bounded heap, singleton filter, and pair-combination emission —
    // into ONE eval (native graft_posting_pairs; was graft_smallest_k +
    // size filter + nested HOF transforms + struct explode), emitting
    // packed `(a<<32)|b` longs so the pair-count exchange keys on a single
    // primitive long (Q134_FUSE_AB.json: 1.27× on the full sf1 wall, rows
    // identical). The shuffle payload stays O(k) — the map-side partial
    // ships at most k postings per bucket (the r15/ADVICE-r14 bound) —
    // while the final eval materializes at most C(k,2) packed longs per
    // bucket, the same bound the HOF form it replaces had, where the
    // original
    // slice-after-collect_list held a saturated bucket's FULL posting
    // list in an unspillable buffer. Packing contract (loud update-time
    // error, never silent): doc_id ∈ [0, 2^31) — wider id spaces must
    // densify first or compose the unpacked graft_smallest_k form.
    graft.expressions.GraftFunctions.registerAll(meta.sparkSession)
    fps.groupBy("fp")
      .agg(expr(s"graft_posting_pairs(doc_id, $maxPosting)").as("pp"))
      .select(explode(col("pp")).as("p"))
      .groupBy("p").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(shiftright(col("p"), 32).as("a"),
        col("p").bitwiseAND(lit(4294967295L)).as("b"), col("shared"))
  }

  // ------------------------------------------------------- declared queries

  val queries: Map[String, Q] = Map(
    // Byte-level metadata over the binary column — SQL-expressible ⇒ oracled.
    "q51_multimodal_meta" -> ((s, dir) =>
      withBinaryPayload(Tables(s, dir).documents)
        .select(col("doc_id"), col("n_bytes"),
          (lit(64) + col("n_bytes") % 577).cast(LongType).as("fake_width"),
          (lit(64) + (col("n_bytes") * 31) % 417).cast(LongType).as("fake_height"))
        .presented("doc_id")),
    // Full decode path through mapPartitions. The STUB decode is pure
    // arithmetic on the payload bytes (checksum = q50's rolling hash;
    // width/height/n_frames derived from length + checksum), so it has a
    // value-exact DuckDB oracle below — the mapPartitions plumbing is what
    // the query certifies.
    "q54_multimodal_decode" -> ((s, dir) =>
      decodeAssets(s, Tables(s, dir).documents).toDF().presented("doc_id")),
    // Frame sampling as a generator over the decoded frame count: one
    // output row per sampled frame, stride 2 — the posexplode shape a
    // video-frame pipeline fans out with (no shuffle; row count grows by
    // the per-asset frame budget, not the corpus size).
    "q94_frame_sample" -> ((s, dir) =>
      sampleFrames(decodeAssets(s, Tables(s, dir).documents), stride = 2)
        .presented("doc_id", "frame_idx")),
    // Aspect-preserving resize planning over decoded dims — pure metadata
    // math (the pixel work belongs to the partition-local decoder), so it
    // is SQL-expressible and value-exact against the oracle.
    "q95_multimodal_resize" -> ((s, dir) =>
      resizeMeta(decodeAssets(s, Tables(s, dir).documents), maxSide = 128)
        .select("doc_id", "width", "height", "out_width", "out_height")
        .presented("doc_id")),
    // frame-hash near-dup across video assets: the dedup family extended
    // to the multimodal column (stub fingerprints ⇒ value-exact oracle).
    // The checksum/n_frames meta rides the NATIVE graft_fingerprint
    // expression (round 13) — the same base-31 mod-1e9+7 fold the stub
    // decoder computes, folded over CODE POINTS, which on this pure-ASCII
    // fixture equals the byte fold (asserted by the q54 oracle note) and
    // matches this query's own oracle (ord() = code point) on ANY corpus;
    // the mapPartitions decode plumbing stays certified by q54.
    // With an honest 2^20 fingerprint space the raw fixture has NO true
    // frame-level duplicates (the 2048-cell variant's 98 sf0.01 rows were
    // all bucket-collision noise), so the corpus is the fixture PLUS a
    // deterministic planted-duplicate slice (every doc_id % 50 == 0
    // re-keyed +10^9, same payload — the q87 derived-fixture pattern; the
    // offset moved from +10^7 in r14 because that collided with sf1's
    // 1e7-stride copy keys, see the rekey guard below): the
    // query certifies TRUE near-dup detection at every SF, and the oracle
    // derives the identical corpus.
    "q134_multimodal_frame_dedup" -> ((s, dir) => {
      val docs0 = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      // planted-dup rekey guard (ADVICE r13): the +1e9 offset must not
      // collide with real doc_ids — the check is a filterless MAX answered
      // from parquet footer stats (aggregate pushdown), one metadata job.
      // The oracle can't express the assert; the Spark side owns it. The
      // guard immediately earned its keep: the r13 +1e7 offset DID collide
      // with the sf1-densified corpus (copies keyed at 1e7 strides, max
      // doc_id 9.0e7), silently violating frameDupPairsMeta's unique-key
      // contract at exactly the bench's own scale point.
      val maxId = docs0.agg(max(col("doc_id"))).collect()(0).getLong(0)
      require(maxId < 1000000000L,
        s"q134 planted-dup rekey (+1e9) would collide: max doc_id = $maxId")
      val docs = docs0.unionByName(docs0.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("text")))
      val fp = graft.expressions.TextStats.fingerprintCol(s)(col("text"))
      val meta = docs.select(col("doc_id"), fp.as("checksum"))
        .withColumn("n_frames", (lit(1) + col("checksum") % 7).cast("int"))
      frameDupPairsMeta(meta, stride = 2, buckets = 1 << 20, minShared = 2,
        maxPosting = 1024).presented("a", "b")
    }),
  )

  val oracles: Map[String, String] = Map(
    // mirrors frameDupPairs over the SAME planted-duplicate corpus (src):
    // the q54 checksum/n_frames derivation, stride-2 frame generation,
    // fingerprint arithmetic into 2^20 cells, posting self-join, pair
    // counting ≥ 2 (the Scala posting cap cannot bind at fixture scale,
    // so the uncapped SQL is exact)
    "q134_multimodal_frame_dedup" ->
      """WITH src AS (SELECT doc_id, text FROM documents
                     UNION ALL
                     SELECT doc_id + 1000000000, text FROM documents
                     WHERE doc_id % 50 = 0),
              d AS (SELECT doc_id,
                           list_reduce(list_prepend(CAST(0 AS BIGINT),
                             list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT))),
                             (acc, c) -> (acc * 31 + c) % 1000000007) AS checksum
                    FROM src),
              n AS (SELECT doc_id, checksum,
                           CAST(1 + checksum % 7 AS INTEGER) AS n_frames
                    FROM d),
              f AS (SELECT DISTINCT doc_id,
                           (checksum * 131 + CAST(t.frame_idx AS BIGINT) * 2654435761) % 1048576 AS fp
                    FROM n, LATERAL (SELECT unnest(generate_series(0, n_frames - 1, 2)) AS frame_idx) t)
         SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS shared
         FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING COUNT(*) >= 2
         ORDER BY a, b""",
    "q51_multimodal_meta" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
                CAST(64 + strlen(text) % 577 AS BIGINT) AS fake_width,
                CAST(64 + (strlen(text) * 31) % 417 AS BIGINT) AS fake_height
         FROM documents ORDER BY doc_id""",
    // Mirrors StubDecoder.decode exactly: checksum is the same base-31
    // rolling hash as q50's fingerprint over the payload bytes, and the
    // remaining fields are arithmetic on byte length + checksum. Byte access
    // in DuckDB goes through ord() per character — identical to UTF-8 bytes
    // because the documents fixture is pure ASCII (strlen == length for
    // every row, all SFs); a non-ASCII fixture would fail this oracle
    // loudly, not silently.
    "q54_multimodal_decode" ->
      """SELECT doc_id,
                CAST(strlen(text) AS BIGINT) AS n_bytes,
                CAST(64 + strlen(text) % 577 AS INTEGER) AS width,
                CAST(64 + (strlen(text) * 31) % 417 AS INTEGER) AS height,
                CAST(1 + checksum % 7 AS INTEGER) AS n_frames,
                checksum
         FROM (SELECT doc_id, text,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT))),
                        (acc, c) -> (acc * 31 + c) % 1000000007) AS checksum
               FROM documents) d
         ORDER BY doc_id""",
    // Same decoded-n_frames derivation as q54, fanned out with
    // generate_series — stride and inclusive upper bound match Spark's
    // sequence(0, n_frames-1, 2) exactly.
    "q94_frame_sample" ->
      """SELECT doc_id, CAST(unnest(generate_series(0, n_frames - 1, 2)) AS INTEGER) AS frame_idx
         FROM (SELECT doc_id,
                      CAST(1 + list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT))),
                        (acc, c) -> (acc * 31 + c) % 1000000007) % 7 AS INTEGER) AS n_frames
               FROM documents) d
         ORDER BY doc_id, frame_idx""",
    // Aspect-preserving resize math on the decoded dims. floor() before the
    // INTEGER cast: Spark's double->int cast truncates while DuckDB's
    // rounds, so the truncation must be explicit to agree.
    "q95_multimodal_resize" ->
      """SELECT doc_id, width, height,
                CASE WHEN greatest(width, height) <= 128 THEN width
                     ELSE CAST(floor(width * 128.0 / greatest(width, height)) AS INTEGER) END AS out_width,
                CASE WHEN greatest(width, height) <= 128 THEN height
                     ELSE CAST(floor(height * 128.0 / greatest(height, width)) AS INTEGER) END AS out_height
         FROM (SELECT doc_id,
                      CAST(64 + strlen(text) % 577 AS INTEGER) AS width,
                      CAST(64 + (strlen(text) * 31) % 417 AS INTEGER) AS height
               FROM documents) d
         ORDER BY doc_id""",
  )
}
