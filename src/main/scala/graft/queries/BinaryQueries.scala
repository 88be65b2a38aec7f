package graft.queries

import org.apache.spark.sql.functions._

/** Opaque-binary (multimodal) column plumbing as an oracle-checked query:
  * payload byte length, header-prefix hex, content hash, fixed-size chunk
  * count over a binary column derived deterministically from the
  * documents table.
  */
object BinaryQueries {
  import Tables.load

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q31_binary_meta",
      (s, dir) => {
        val d = load(s, dir, "documents")
        val payload = col("text").cast("binary")
        d.select(
          col("doc_id"),
          length(payload).as("payload_bytes"),
          upper(substring(hex(payload), 1, 8)).as("header_hex"),
          md5(payload).as("payload_md5"),
          ceil(length(payload) / lit(64.0)).cast("long").as("n_chunks"))
      },
      Some("""
        SELECT doc_id,
               octet_length(encode(text)) AS payload_bytes,
               upper(substr(hex(encode(text)), 1, 8)) AS header_hex,
               md5(text) AS payload_md5,
               CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS n_chunks
        FROM documents
      """)
    )
  )
}
