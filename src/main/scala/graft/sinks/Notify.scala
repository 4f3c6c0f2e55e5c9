package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Completion-notification sink (S14) — the engine's replacement for
  * the reference's SNS publish on ETL completion
  * (etl/glue_job.py:283-317): a success/failure subject + a stats
  * message rendered from the run's record counts, pushed through a
  * pluggable [[Notify.Notifier]] (SNS, a webhook, Slack — any
  * `(subject, message) => Unit`; tests bind a recorder).
  *
  * Semantics: the reference publishes AFTER the write commits and
  * swallows publish errors (a failed notification must not fail the
  * job, glue_job.py:315-317) — both behaviors are kept.
  * [[Notify.onBatchComplete]] is the Structured-Streaming form: a
  * `foreachBatch` hook that notifies once per micro-batch with
  * at-least-once delivery (a batch replayed after a crash re-sends;
  * receivers dedup on the batchId embedded in the message — the
  * standard idempotent-consumer contract, same as SNS redelivery).
  *
  * Scale: the notification payload is a per-run AGGREGATE (one row),
  * computed by Spark before anything touches the driver — the sink
  * never iterates data rows. */
object Notify {

  /** Side-effecting delivery channel: (subject, message) → unit. */
  type Notifier = (String, String) => Unit

  /** Append-to-file transport — the local stand-in for a topic: each
    * notification is one `subject \t message-with-escaped-newlines`
    * line, so a tail/test can read the delivery log back. */
  def fileNotifier(path: String): Notifier = (subject, message) => {
    val line = subject + "\t" + message.replace("\n", "\\n") + "\n"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path), line.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    ()
  }

  /** LIVE webhook transport — the self-hosted equivalent of the
    * reference's SNS publish (etl/glue_job.py:283-317): POST
    * `{"subject":…,"message":…}` JSON to `url` over
    * `java.net.http.HttpClient`, with bounded exponential retry on
    * TRANSIENT failures only (5xx, connect/IO errors — at-least-once,
    * like SNS redelivery). A 4xx is a permanent rejection (bad
    * endpoint, bad auth) and throws immediately: retrying it would
    * only hide a configuration error. Exhausted retries throw to the
    * caller, where [[notifyCompletion]]/[[onBatchComplete]] apply the
    * reference's swallow-and-log rule — the ETL outcome never depends
    * on the notification channel.
    *
    * Redirects are followed MANUALLY (the JDK client's
    * `Redirect.NORMAL` would convert a 301/302/303 POST into a GET,
    * silently dropping the JSON payload, and would re-send auth
    * headers to whatever host the redirect names): an endpoint moved
    * behind any 3xx is re-POSTed with the SAME method and body — for
    * a webhook the payload IS the notification, so the 303
    * "switch-to-GET" convention does not apply — and auth-bearing
    * headers (`Authorization`, `Cookie`, `Proxy-Authorization`) are
    * STRIPPED when the redirect target's origin (scheme+host+port)
    * differs from the one the caller configured. An https→http
    * downgrade is refused and a hop chain longer than 5 is a loop —
    * both TRANSIENT (retryable), because they describe the route,
    * not the configuration. A 3xx WITHOUT a `Location` is the
    * opposite: there is no route to follow and retrying re-POSTs the
    * identical request to the identical endpoint, so it can never
    * become deliverable (304 Not Modified legitimately carries no
    * Location at all) — that is a PERMANENT [[WebhookRejected]], not
    * a backoff-burner.
    *
    * `sleep` is injectable (specs record backoffs instead of
    * waiting); `headers` carries auth (e.g. a bearer token) and may
    * override the default `Content-Type: application/json` — a
    * caller-supplied Content-Type replaces the default instead of
    * being sent alongside it. */
  def webhookNotifier(
      url: String,
      headers: Map[String, String] = Map.empty,
      attempts: Int = 3,
      timeoutSeconds: Long = 10,
      sleep: Long => Unit = Thread.sleep): Notifier = {
    require(attempts >= 1, s"attempts must be >= 1 (got $attempts)")
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(timeoutSeconds))
      .followRedirects(java.net.http.HttpClient.Redirect.NEVER)
      .build()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val origin = java.net.URI.create(url)
    // headers that must never leak to a host the caller didn't name
    val authHeaders = Seq("Authorization", "Cookie", "Proxy-Authorization")
    // normalized origin compare: scheme/host case-folded (RFC 3986 —
    // Locale.ROOT so a tr-locale JVM can't mangle the fold) and the
    // DEFAULT port made explicit, so https://h ≡ https://h:443 — a
    // same-origin hop must not get its bearer token stripped
    def originKey(u: java.net.URI): (String, String, Int) = {
      val scheme = String.valueOf(u.getScheme).toLowerCase(java.util.Locale.ROOT)
      val port =
        if (u.getPort != -1) u.getPort
        else if (scheme == "https") 443
        else if (scheme == "http") 80
        else -1
      (scheme, String.valueOf(u.getHost).toLowerCase(java.util.Locale.ROOT), port)
    }
    def sameOrigin(a: java.net.URI, b: java.net.URI): Boolean =
      originKey(a) == originKey(b)
    (subject, message) => {
      val body = {
        val node = mapper.createObjectNode()
        node.put("subject", subject)
        node.put("message", message)
        mapper.writeValueAsString(node)
      }
      def postOnce(target: java.net.URI): java.net.http.HttpResponse[String] = {
        val b = java.net.http.HttpRequest.newBuilder()
          .uri(target)
          .timeout(java.time.Duration.ofSeconds(timeoutSeconds))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        if (!headers.keysIterator.exists(_.equalsIgnoreCase("Content-Type")))
          b.header("Content-Type", "application/json")
        val crossOrigin = !sameOrigin(origin, target)
        headers.foreach { case (k, v) =>
          // equalsIgnoreCase, not toLowerCase membership: locale-proof
          // (a tr-default JVM lowercases 'I' to dotless 'ı', which
          // would let AUTHORIZATION slip through the strip)
          if (!(crossOrigin && authHeaders.exists(_.equalsIgnoreCase(k)))) b.header(k, v)
        }
        client.send(b.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      }
      // None = delivered; Some(reason) = transient failure (retryable)
      @annotation.tailrec
      def follow(target: java.net.URI, hops: Int): Option[String] = {
        val resp = postOnce(target)
        val sc = resp.statusCode()
        if (sc >= 200 && sc < 300) None
        else if (sc >= 300 && sc < 400) {
          val loc = resp.headers().firstValue("Location")
          // no Location = nothing to follow; a retry re-sends the
          // SAME request to the SAME endpoint and gets the SAME
          // answer (e.g. 304 Not Modified never has one) — permanent
          if (!loc.isPresent)
            throw new WebhookRejected(s"webhook rejected: HTTP $sc without Location")
          else {
            val next = target.resolve(loc.get)
            if (target.getScheme == "https" && next.getScheme != "https")
              Some(s"redirect downgrade refused: $next")
            else if (hops >= 5) Some(s"redirect loop at $next")
            else follow(next, hops + 1)
          }
        }
        else if (sc >= 500) Some(s"HTTP $sc")
        else throw new WebhookRejected(s"webhook rejected: HTTP $sc")
      }
      def attemptOnce(): Option[String] =
        try follow(origin, 0)
        catch {
          case e: WebhookRejected => throw e
          case e: java.io.IOException => Some(String.valueOf(e.getMessage))
        }
      var attempt = 1
      var failure = attemptOnce()
      while (failure.isDefined && attempt < attempts) {
        sleep(1000L * (1L << (attempt - 1))) // 1s, 2s, 4s…
        attempt += 1
        failure = attemptOnce()
      }
      failure.foreach(r => throw new java.io.IOException(
        s"webhook delivery failed after $attempt attempts: $r"))
    }
  }

  /** Permanent (non-retryable) webhook rejection — a 4xx. */
  final class WebhookRejected(msg: String) extends java.io.IOException(msg)

  /** Render the completion (subject, message) pair — the exact
    * content model of glue_job.py:290-307: success carries record /
    * symbol counts, resolution and a timestamp; failure carries the
    * error and the timestamp. Pure → unit-testable without effects. */
  def completionMessage(
      success: Boolean,
      totalRecords: Long,
      symbolsCount: Long,
      resolution: String,
      atIso: String,
      errorMsg: Option[String] = None,
      jobName: String = "ETL Job"): (String, String) =
    if (success)
      (s"$jobName - Success",
        s"""ETL processing completed successfully.
           |
           |Statistics:
           |- Total records processed: $totalRecords
           |- Symbols processed: $symbolsCount
           |- Processing time: $atIso
           |- Resolution: $resolution""".stripMargin)
    else
      (s"$jobName - FAILURE",
        s"""ETL processing failed at $atIso
           |
           |Error: ${errorMsg.getOrElse("unknown")}""".stripMargin)

  /** Aggregate the run stats the message needs from the normalized
    * output — ONE collected row regardless of data size. */
  def runStats(normalized: DataFrame): (Long, Long, String) = {
    val r = normalized
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("symbol_clean")).as("syms"),
        coalesce(first(col("resolution")), lit("N/A")).as("res"))
      .collect()(0)
    (r.getLong(0), r.getLong(1), r.getString(2))
  }

  /** Success message straight from a [[graft.ohlcv.Storage.runMetadata]]
    * rollup row — the reference feeds SNS from the same run-metadata
    * record it writes to RDS (glue_job.py:227-317); sharing the
    * aggregate keeps the notification and the metadata sink counting
    * the same numbers from ONE job. */
  def fromRunMetadata(meta: DataFrame, resolution: String, atIso: String): (String, String) = {
    val r = meta.select("total_records", "distinct_symbols", "job_name").collect()(0)
    completionMessage(
      success = true, r.getLong(0), r.getLong(1), resolution, atIso,
      None, jobName = r.getString(2))
  }

  /** Notify a batch run's completion: stats aggregate → message →
    * notifier, success or failure. Publish errors are logged-and-
    * swallowed (reference glue_job.py:315-317) — the ETL outcome
    * never depends on the notification channel. */
  def notifyCompletion(
      notifier: Notifier,
      normalized: DataFrame,
      atIso: String,
      errorMsg: Option[String] = None,
      jobName: String = "ETL Job"): Unit = {
    val (subject, message) =
      if (errorMsg.isDefined)
        completionMessage(success = false, 0L, 0L, "N/A", atIso, errorMsg, jobName)
      else {
        val (n, syms, res) = runStats(normalized)
        completionMessage(success = true, n, syms, res, atIso, None, jobName)
      }
    try notifier(subject, message)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[notify] delivery failed (ignored): ${e.getMessage}")
    }
  }

  /** `foreachBatch` completion hook for streaming sinks: notifies
    * once per non-empty micro-batch, embedding the batchId so
    * redelivery after a checkpoint replay is receiver-dedupable
    * (at-least-once, like SNS). Compose it after the real write:
    * {{{
    * ds.writeStream.foreachBatch { (df, id) =>
    *   Storage.writeParquet(transform(df), out)
    *   Notify.onBatchComplete(notifier, transform(df), id, clock())
    * }
    * }}} */
  def onBatchComplete(
      notifier: Notifier,
      batchDf: DataFrame,
      batchId: Long,
      atIso: String,
      jobName: String = "Stream ETL"): Unit = {
    val (n, syms, res) = runStats(batchDf)
    if (n > 0)
      try notifier(
        s"$jobName - Batch $batchId",
        completionMessage(success = true, n, syms, res, atIso, None, jobName)._2 +
          s"\n- Batch id: $batchId")
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[notify] delivery failed (ignored): ${e.getMessage}")
      }
  }
}
