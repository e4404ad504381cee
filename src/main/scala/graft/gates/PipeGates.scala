package graft.gates

import graft.event.Event
import graft.functions.{Backoff, Base64Functions => B64, DumpCodec,
  GzipFunctions => GZ, TextFunctions => TF}
import graft.interceptor.{HeaderEnrich, InterceptorChain, RegexFilter,
  DevNull => DevNullItp}
import graft.sinks.Sinks
import graft.sources.Sources
import graft.streaming.BatchSemantics

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import GateSupport._
import OracleCtes._

/** Pipeline parity gates (SURVEY §2.1-2.4): interceptor chains, routing,
  * codecs and batch assembly over the events and documents fixtures. */
object PipeGates {
  private val family = "pipe"

  val gates: Seq[GateQuery] = Seq(
    GateQuery("pipe_transform", family,
      build = (s, dir) => {
        // interceptor chain over the event stream: regex keep-filter (columnar
        // path) + header enrichment, then a stable projection
        val events = Sources.eventsTableAsEvents(t(s, dir, "events"))
        val chain = InterceptorChain(Seq(
          RegexFilter("keep8x", "\"k\": 8\\d", priority = 90),
          HeaderEnrich("tag", Map("source" -> "graft"), priority = 50)))
        chain(events).toDF()
          .select(element_at(col("headers"), "event_id").cast("long").as("event_id"),
                  col("body"),
                  element_at(col("headers"), "source").as("source"))
          .orderBy("event_id")
      },
      oracleSql = transformOracle),
    GateQuery("pipe_drop_all", family,
      build = (s, dir) =>
        InterceptorChain(Seq(DevNullItp("dn")))(
          Sources.eventsTableAsEvents(t(s, dir, "events"))).toDF().select("body"),
      oracleSql = "SELECT props AS body FROM events WHERE 1 = 0"),
    GateQuery("pipe_route", family,
      build = (s, dir) => {
        val events = Sources.eventsTableAsEvents(t(s, dir, "events")).toDF()
        val et = element_at(col("headers"), "event_type")
        val routes = Seq(
          Sinks.Route("kafka_sink", et === "purchase"),
          Sinks.Route("syslog_sink", et === "error"),
          Sinks.Route("http_sink", lit(true)))
        Sinks.assign(events, routes, skipAcceptCheckOnSingle = false)
          .groupBy(col("__sink").as("sink")).agg(count(lit(1)).as("n"))
          .orderBy("sink")
      },
      oracleSql = """
      SELECT CASE WHEN event_type = 'purchase' THEN 'kafka_sink'
                  WHEN event_type = 'error' THEN 'syslog_sink'
                  ELSE 'http_sink' END AS sink,
             count(*)::BIGINT AS n
      FROM events GROUP BY 1 ORDER BY sink"""),
    GateQuery("pipe_split_words", family,
      build = (s, dir) =>
        t(s, dir, "documents")
          .select(explode(TF.tokens(col("text"))).as("word"))
          .where(col("word") =!= "")
          .groupBy("word").agg(count(lit(1)).as("n"))
          .orderBy("word"),
      oracleSql = s"""
      WITH w AS (SELECT unnest($sqlToks) AS word FROM documents)
      SELECT word, count(*)::BIGINT AS n FROM w WHERE word <> ''
      GROUP BY word ORDER BY word"""),
    GateQuery("pipe_b64", family,
      build = (s, dir) =>
        t(s, dir, "events").select(
            col("event_id"),
            B64.b64(to_binary(col("props"), lit("utf-8"))).as("b64"),
            (decode(B64.unb64(B64.b64(to_binary(col("props"), lit("utf-8")))), "utf-8")
              === col("props")).as("roundtrip_ok"))
          .orderBy("event_id"),
      oracleSql = """
      SELECT event_id, to_base64(encode(props)) AS b64, true AS roundtrip_ok
      FROM events ORDER BY event_id"""),
    GateQuery("pipe_batch_assembly", family,
      build = (s, dir) =>
        BatchSemantics.batchByTagStatic(t(s, dir, "events"),
            tagCol = "event_type", bodyCol = "props", orderCol = "event_id",
            batchSize = 100)
          .select(col("tag"), col("batch_idx"), col("batch_n"),
                  md5(to_binary(col("batch_body"), lit("utf-8"))).as("batch_md5"))
          .orderBy("tag", "batch_idx"),
      oracleSql = """
      WITH rn AS (
        SELECT event_type AS tag, props, event_id,
               row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1 AS r
        FROM events)
      SELECT tag, r // 100 AS batch_idx, count(*)::BIGINT AS batch_n,
             md5(string_agg(props, chr(10) ORDER BY r)) AS batch_md5
      FROM rn GROUP BY tag, r // 100 ORDER BY tag, batch_idx"""),
    GateQuery("pipe_backoff", family,
      build = (s, dir) => {
        import s.implicits._
        s.range(20).map(n => (n, Backoff.delayMillis(n.toDouble)))
          .toDF("attempt", "delay_ms").orderBy("attempt")
      },
      oracleSql = """
      SELECT range AS attempt,
             least((pow(2, least(range, 16)) * 1000)::BIGINT, 32000)::BIGINT AS delay_ms
      FROM range(20) ORDER BY attempt"""),
    GateQuery("pipe_devzero", family,
      build = (s, dir) =>
        Sources.devZeroBatch(s, 1024).toDF()
          .select(element_at(col("headers"), "seq").cast("long").as("seq"), col("body"))
          .orderBy("seq"),
      oracleSql = """
      SELECT range AS seq, '0' AS body FROM range(1024) ORDER BY seq"""),
    GateQuery("pipe_headers", family,
      build = (s, dir) => {
        val events = Sources.eventsTableAsEvents(t(s, dir, "events"))
        val enriched = InterceptorChain(Seq(HeaderEnrich("t", Map("source" -> "graft"))))(events)
        enriched.toDF().select(
            element_at(col("headers"), "event_id").cast("long").as("event_id"),
            array_join(sort_array(transform(map_entries(col("headers")),
              e => concat(e.getField("key"), lit("="), e.getField("value")))), ",")
              .as("headers_flat"))
          .orderBy("event_id")
      },
      oracleSql = """
      SELECT event_id,
             'event_id=' || event_id || ',event_type=' || event_type ||
             ',source=graft,user_id=' || user_id AS headers_flat
      FROM events ORDER BY event_id"""),
    GateQuery("pipe_dump_codec", family,
      build = (s, dir) => {
        implicit val enc = Encoders.product[(Long, String)]
        t(s, dir, "events").select(col("event_id"), col("props"), col("event_type"))
          .as(Encoders.product[(Long, String, String)])
          .map { case (id, props, et) =>
            (id, DumpCodec.encode(Event(props, Map("et" -> et)))) }
          .toDF("event_id", "dump").orderBy("event_id")
      },
      oracleSql = """
      SELECT event_id,
             to_base64(encode(props)) || ';' || to_base64(encode('et')) || ',' ||
             to_base64(encode(event_type)) AS dump
      FROM events ORDER BY event_id"""),
    GateQuery("pipe_gzip", family,
      build = (s, dir) => {
        // Oracle-able on the DECODE side: zlib bytes aren't bit-stable across
        // engines, but gunzip(gzip(x)) = x is. Project the round-tripped text
        // (+ its char length and md5 of the utf-8 bytes) so DuckDB can verify
        // the output equals the original column directly — hash_match proves
        // the codec round-trips, retiring the rows-only waiver.
        val plain = GZ.gunzip(GZ.gzip(to_binary(col("text"), lit("utf-8"))))
        t(s, dir, "documents").select(
            col("doc_id"),
            decode(plain, "utf-8").as("roundtrip_text"),
            length(decode(plain, "utf-8")).as("plain_chars"),
            md5(plain).as("plain_md5"))
          .orderBy("doc_id")
      },
      // decode-side gzip oracle: the Spark side round-trips through the real
      // gzip/gunzip expressions; equality of the decoded projection to the
      // original column is engine-independent (zlib BYTES are not — hence no
      // oracle on the compressed form).
      oracleSql = """
      SELECT doc_id, text AS roundtrip_text,
             length(text)::INT AS plain_chars, md5(text) AS plain_md5
      FROM documents ORDER BY doc_id""")
  )
}
