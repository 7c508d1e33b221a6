package graft.queries

import graft.{Query, QueryModule, Tables}
import graft.operators.MultimodalOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column pipeline surface (see MultimodalOps for the
  * decode-stub contract). Outputs are deterministic functions of the
  * payload bytes, so even the mapPartitions/flatMap stages are
  * value-checked against the DuckDB oracle.
  */
object Multimodal extends QueryModule {

  override def rows: Seq[Query] = Seq(
    // binary payload -> partition-batched decode -> typed metadata
    Query("mm_meta", (s, d) =>
      MultimodalOps.decode(MultimodalOps.toMedia(Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("kind"), col("n_bytes"),
          col("width"), col("height"), col("n_frames"))
        .orderBy("doc_id"),
      s"""
      SELECT doc_id, kind, n_bytes, width, height, n_frames
      FROM ($sqlMeta)
      ORDER BY doc_id"""),

    // metadata -> frame sampling generator (every 3rd frame)
    Query("mm_frames", (s, d) =>
      MultimodalOps.sampleFrames(
        MultimodalOps.decode(MultimodalOps.toMedia(Tables.documents(s, d))), 3)
        .toDF()
        .orderBy("doc_id", "frame_idx"),
      s"""
      SELECT doc_id, unnest(range(0, n_frames, 3)) AS frame_idx,
             unnest(range(0, n_frames, 3)) * 1000 AS byte_off
      FROM ($sqlMeta)
      ORDER BY doc_id, frame_idx"""),

    // scene-cut detection: consecutive sampled-frame signature jumps
    // above an absolute threshold — the shot-boundary primitive of
    // video curation (dedupe shots, sample per scene). One generator
    // pass + one per-payload lag window; the signature is the stub
    // frame hash (frameSignatures), swapped for a real decoder hash in
    // production with the same plan shape.
    Query("mm_scene_cuts", (s, d) => {
      val sigs = MultimodalOps.frameSignatures(
        MultimodalOps.toMedia(Tables.documents(s, d)), 1).toDF()
      val w = Window.partitionBy("doc_id").orderBy("frame_idx")
      sigs.withColumn("prev", lag("sig", 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("jump", abs(col("sig") - col("prev")))
        .filter(col("jump") >= MultimodalOps.SCENE_TAU)
        .select(col("doc_id"), col("frame_idx"), col("jump"))
        .orderBy("doc_id", "frame_idx")
    },
      // frame windows summed char-by-char (ASCII corpus: ord == byte,
      // the same equivalence mm_features already rides); empty tail
      // window coalesces to 0 like the engine's fold
      s"""
      WITH f AS (
        SELECT doc_id, text,
               unnest(range(0, length(text) // ${MultimodalOps.SIG_FRAME_W}
                 + 1, 1)) AS fi
        FROM documents),
      s AS (
        SELECT doc_id, fi,
               coalesce(list_aggregate(list_transform(
                 range(fi * ${MultimodalOps.SIG_FRAME_W} + 1,
                       least(fi * ${MultimodalOps.SIG_FRAME_W}
                               + ${MultimodalOps.SIG_FRAME_W},
                             length(text)) + 1),
                 j -> ord(text[j])), 'sum'), 0)::BIGINT AS sig
        FROM f),
      d AS (
        SELECT doc_id, fi, sig,
               lag(sig) OVER (PARTITION BY doc_id ORDER BY fi) AS prev
        FROM s)
      SELECT doc_id, fi AS frame_idx, abs(sig - prev)::BIGINT AS jump
      FROM d
      WHERE prev IS NOT NULL AND abs(sig - prev) >= ${MultimodalOps.SCENE_TAU}
      ORDER BY doc_id, frame_idx"""),

    // feature-extraction stage: 8-dim integer embedding per payload
    Query("mm_features", (s, d) =>
      MultimodalOps.extractFeatures(MultimodalOps.toMedia(Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id") +:
          (0 until 8).map(i => element_at(col("features"), i + 1).as(s"f$i")): _*)
        .orderBy("doc_id"),
      {
      val cols = (0 until 8).map(i =>
        s"""list_aggregate(list_transform(range(1, length(text) + 1),
              j -> CASE WHEN (j - 1) % 8 = $i THEN ord(text[j]) ELSE 0 END),
              'sum')::BIGINT AS f$i""").mkString(",\n             ")
      s"""
      SELECT doc_id,
             $cols
      FROM documents
      ORDER BY doc_id"""
    }),

    // batched stub inference: fixed-size batches through the "model";
    // values oracle-checked, batch composition checked in MultimodalSpec
    Query("mm_batch_embed", (s, d) =>
      MultimodalOps.batchEmbed(
        MultimodalOps.toMedia(Tables.documents(s, d)), batchSize = 32)
        .toDF()
        .select(col("doc_id") +:
          (0 until 8).map(i => element_at(col("emb"), i + 1).as(s"e$i")): _*)
        .orderBy("doc_id"),
      {
      val cols = (0 until 8).map(i =>
        s"(('0x' || substr(md5(text), ${4 * i + 1}, 4))::BIGINT - 32768) AS e$i")
        .mkString(",\n             ")
      s"""
      SELECT doc_id,
             $cols
      FROM documents
      ORDER BY doc_id"""
    }),

    // multimodal RETRIEVAL: exact top-5 neighbors per probe by integer
    // dot product over the stub embeddings — the compose-step after
    // batch inference (embed -> index -> search). Probe side broadcast,
    // corpus never shuffled, rank filter rides WindowGroupLimit — the
    // sim_brute_topk scale shape over media-derived vectors. All-integer
    // scores: exact in both engines, total tie order by doc_id.
    Query("mm_embed_topk", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      def embed(docs: org.apache.spark.sql.DataFrame) =
        MultimodalOps.batchEmbed(MultimodalOps.toMedia(docs), batchSize = 32)
          .toDF()
          .select(col("doc_id") +:
            (0 until 8).map(i => element_at(col("emb"), i + 1).as(s"e$i")): _*)
      val docs = Tables.documents(s, d)
      val emb = embed(docs)
      // probe side filters BEFORE inference: the stub embedding is
      // per-row, so embedding only the 3 probe docs is value-identical
      // — and a filter cannot push through the typed batch stage, so
      // deriving q from emb would re-run inference over the corpus
      val q = embed(docs.filter(col("doc_id") < 3))
        .select(col("doc_id").as("q_id") +:
          (0 until 8).map(i => col(s"e$i").as(s"q$i")): _*)
      val dot = (0 until 8)
        .map(i => col(s"e$i").cast("long") * col(s"q$i").cast("long"))
        .reduce(_ + _)
      val w = Window.partitionBy("q_id")
        .orderBy(col("dot").desc, col("doc_id"))
      emb.join(broadcast(q), col("doc_id") =!= col("q_id"))
        .select(col("q_id"), col("doc_id"), dot.as("dot"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select("q_id", "rk", "doc_id", "dot")
        .orderBy("q_id", "rk")
    },
      {
      val eCols = (0 until 8).map(i =>
        s"(('0x' || substr(md5(text), ${4 * i + 1}, 4))::BIGINT - 32768) AS e$i")
        .mkString(",\n                        ")
      val qCols = (0 until 8).map(i => s"e$i AS q$i").mkString(", ")
      val dotExpr = (0 until 8).map(i => s"e.e$i * q.q$i").mkString(" + ")
      s"""
      WITH e AS (SELECT doc_id,
                        $eCols
                 FROM documents),
           q AS (SELECT doc_id AS q_id, $qCols FROM e WHERE doc_id < 3),
           sc AS (SELECT q.q_id, e.doc_id, ($dotExpr)::BIGINT AS dot
                  FROM e JOIN q ON e.doc_id <> q.q_id),
           r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                            ORDER BY dot DESC, doc_id) AS rk
                 FROM sc)
      SELECT q_id, CAST(rk AS BIGINT) AS rk, doc_id, dot
      FROM r
      WHERE rk <= 5
      ORDER BY q_id, rk"""
    }),

    // resize planning from decoded dims to a 224x224 target
    Query("mm_resize", (s, d) =>
      MultimodalOps.resizePlan(
        MultimodalOps.decode(MultimodalOps.toMedia(Tables.documents(s, d))))
        .toDF()
        .orderBy("doc_id"),
      s"""
      SELECT doc_id, 224::BIGINT AS new_w, 224::BIGINT AS new_h,
             (224000 // width)::BIGINT AS scale_x_e3,
             (224000 // height)::BIGINT AS scale_y_e3
      FROM ($sqlMeta)
      ORDER BY doc_id"""),

    // per-kind aggregate over decoded metadata
    Query("mm_kind_stats", (s, d) =>
      MultimodalOps.decode(MultimodalOps.toMedia(Tables.documents(s, d)))
        .toDF()
        .groupBy("kind")
        .agg(
          count(lit(1)).as("n"),
          sum("n_bytes").as("total_bytes"),
          max("width").as("max_width"),
          sum("n_frames").as("total_frames"))
        .orderBy("kind"),
      s"""
      SELECT kind, count(1) AS n,
             sum(n_bytes)::BIGINT AS total_bytes,
             max(width) AS max_width,
             sum(n_frames)::BIGINT AS total_frames
      FROM ($sqlMeta)
      GROUP BY kind
      ORDER BY kind"""),

    // perceptual-hash signatures: real DCT pHash (32x32 luma -> Q14
    // 2-D DCT-II -> 60 low-frequency AC bits vs their median; see
    // MultimodalOps.phashOf) — the NEAR-dup counterpart of mm_dedup's
    // exact byte hash. Only the luma step is a synthetic decode; the
    // resize/DCT/median-threshold pipeline is the published algorithm.
    Query("mm_phash", (s, d) =>
      MultimodalOps.phash(MultimodalOps.toMedia(Tables.documents(s, d)))
        .toDF()
        .orderBy("doc_id"),
      s"""
      SELECT doc_id, phash FROM $sqlPhash
      ORDER BY doc_id"""),

    // pHash near-dup pairs: Hamming<=3 over the 60-bit signatures via
    // the 4x15-bit pigeonhole blocks (complete, same discipline as
    // dedup_simhash_pairs); the re-ingested copies guarantee hits
    Query("mm_phash_pairs", (s, d) => {
      val media = MultimodalOps.toMedia(Tables.documents(s, d)).toDF()
      val reingested = media.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          col("kind"), col("payload"))
      val ph = MultimodalOps.phash(
        media.union(reingested).as[graft.operators.MediaRecord](
          org.apache.spark.sql.Encoders.product[graft.operators.MediaRecord]))
        .toDF()
      val blocks = ph.select(col("doc_id"), col("phash"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("phash"), b * 15).bitwiseAND(lit(0x7FFFL))): _*)))
        .withColumnRenamed("pos", "blk")
        .withColumnRenamed("col", "blk_val")
      val a = blocks.select(col("blk"), col("blk_val"),
        col("doc_id").as("a_id"), col("phash").as("a_ph"))
      val b = blocks.select(col("blk"), col("blk_val"),
        col("doc_id").as("b_id"), col("phash").as("b_ph"))
      // Hamming gate BEFORE the pair dedup (same reasoning as
      // simhashPairsFrom): the gate is a pure function of the pair, so
      // only true near-dups reach the dedup exchange — on a corpus
      // where signatures concentrate, the raw bucket-join output is
      // far larger than the surviving pair set
      a.join(b, Seq("blk", "blk_val"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          bit_count(col("a_ph").bitwiseXOR(col("b_ph"))).cast("long")
            .as("hamming"))
        .filter(col("hamming") <= 3)
        .dropDuplicates("a_id", "b_id")
        .orderBy("a_id", "b_id")
    },
      s"""
      WITH ph AS (SELECT doc_id, phash FROM $sqlPhash),
           u AS (SELECT doc_id, phash FROM ph
                 UNION ALL
                 SELECT doc_id + 100000 AS doc_id, phash
                 FROM ph WHERE doc_id % 7 = 0)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
      FROM u a JOIN u b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.phash, b.phash)) <= 3
      ORDER BY a_id, b_id"""),

    // exact binary dedup over opaque payloads: the ingest-time pass that
    // drops byte-identical media fetched from multiple sources. The
    // corpus has no natural byte-dups, so every 7th payload is unioned
    // back under a re-ingested id (same bytes, new key) — dedup keys on
    // md5(payload) only, one hash agg, and at 100 TB the md5 shuffles
    // instead of the payload bytes (the only scalable key choice for
    // multi-MB binaries)
    Query("mm_dedup", (s, d) => {
      val media = MultimodalOps.toMedia(Tables.documents(s, d)).toDF()
      val reingested = media.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          col("kind"), col("payload"))
      media.union(reingested)
        .select(col("doc_id"), md5(col("payload")).as("payload_md5"),
          length(col("payload")).cast("long").as("n_bytes"))
        .groupBy("payload_md5")
        .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_copies"),
          min("n_bytes").as("n_bytes"))
        .select(col("rep_id"), col("payload_md5"), col("n_copies"),
          col("n_bytes"))
        .orderBy("rep_id")
    },
      """
      WITH m AS (
        SELECT doc_id, md5(text) AS payload_md5,
               octet_length(encode(text)) AS n_bytes
        FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, md5(text) AS payload_md5,
               octet_length(encode(text)) AS n_bytes
        FROM documents WHERE doc_id % 7 = 0)
      SELECT min(doc_id) AS rep_id, payload_md5,
             count(1) AS n_copies, min(n_bytes) AS n_bytes
      FROM m
      GROUP BY payload_md5
      ORDER BY rep_id""")
  )

  /** DuckDB mirror of MultimodalOps.phashOf — the SAME fixed-point DCT
    * pHash, term for term: 1024-lane luma (byte sums mod 256), 2-D
    * DCT-II against the Q14 cosine table (`ct` VALUES are inlined from
    * MultimodalOps.DctCosQ, the one source of truth), coefficients
    * u*8+v in 1..60, bit set iff above the 30th-smallest (lower
    * median). All integer arithmetic; the row/column pass split here
    * mirrors the Scala separable computation exactly because integer
    * multiplication distributes over the sums.
    */
  private val sqlPhash = {
    val ctRows = (for {u <- 0 until 8; x <- 0 until 32}
      yield s"($u,$x,${MultimodalOps.DctCosQ(u)(x)})").mkString(",")
    s"""
      (WITH bytes AS (
        SELECT doc_id, p, ord(text[p]) AS byte
        FROM (SELECT doc_id, text,
                     unnest(range(1, length(text) + 1)) AS p
              FROM documents)),
      lanes AS (
        SELECT doc_id, ((p - 1) % 1024)::BIGINT AS i,
               (sum(byte) % 256)::BIGINT AS pix
        FROM bytes GROUP BY doc_id, (p - 1) % 1024),
      ct(u, x, c) AS (VALUES $ctRows),
      rowp AS (
        SELECT l.doc_id, (l.i // 32)::BIGINT AS x, ct.u AS v,
               sum(l.pix * ct.c)::BIGINT AS g
        FROM lanes l JOIN ct ON ct.x = l.i % 32
        GROUP BY l.doc_id, l.i // 32, ct.u),
      coef AS (
        SELECT r.doc_id, ct.u AS u, r.v AS v,
               sum(r.g * ct.c)::BIGINT AS f
        FROM rowp r JOIN ct ON ct.x = r.x
        GROUP BY r.doc_id, ct.u, r.v),
      sel AS (
        SELECT doc_id, (u * 8 + v - 1)::BIGINT AS b, f,
               row_number() OVER (PARTITION BY doc_id ORDER BY f) AS rk
        FROM coef WHERE u * 8 + v BETWEEN 1 AND 60),
      med AS (SELECT doc_id, f AS fmed FROM sel WHERE rk = 30),
      h AS (
        SELECT s.doc_id,
               sum(CASE WHEN s.f > m.fmed THEN 1::BIGINT << s.b
                        ELSE 0::BIGINT END)::BIGINT AS phash
        FROM sel s JOIN med m USING (doc_id)
        GROUP BY s.doc_id)
      SELECT d.doc_id, coalesce(h.phash, 0)::BIGINT AS phash
      FROM documents d LEFT JOIN h USING (doc_id))"""
  }

  private val sqlMeta = """
    SELECT doc_id,
           ['image', 'audio', 'video'][(doc_id % 3 + 1)::INT] AS kind,
           octet_length(encode(text)) AS n_bytes,
           octet_length(encode(text)) % 640 + 16 AS width,
           octet_length(encode(text)) % 480 + 16 AS height,
           octet_length(encode(text)) // 1000 + 1 AS n_frames
    FROM documents"""
}
