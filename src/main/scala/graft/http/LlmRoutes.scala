package graft.http

import com.sun.net.httpserver.HttpExchange

import graft.query.{QueryService, Rbac}

/** Prompt-to-SQL endpoint (reference `get_llm_webscope`,
  * `src/handlers/http/modal/server.rs:807-815`):
  * `POST /api/v1/llm/generate` with `{"prompt": …, "stream": …}` builds a
  * schema-aware prompt from the stream's registered schema and forwards it
  * to the configured chat-completions endpoint; the response body is the
  * generated SQL as one JSON string. Reference error mapping: every
  * failure (no key, unknown stream, provider error) is a 500 with a
  * plain-text message.
  */
private[http] trait LlmRoutes { self: GraftHttpServer =>

  private[http] def handleLlm(ex: HttpExchange): Unit = authedUser(ex) match {
    case Left(msg) => err(ex, 401, msg)
    case Right(userOpt) =>
      if (ex.getRequestMethod != "POST") { err(ex, 405, "POST only"); return }
      val cfg = llm match {
        case Some(c) if c.apiKey.length > 3 => c
        case _ =>
          respond(ex, 500,
            "Either OpenAI key was not provided or was invalid",
            contentType = "text/plain")
          return
      }
      val body =
        try mapper.readTree(ex.getRequestBody)
        catch {
          case e: com.fasterxml.jackson.core.JacksonException =>
            err(ex, 400, s"malformed JSON body: ${e.getOriginalMessage}")
            return
        }
      val prompt = Option(body.get("prompt")).map(_.asText()).getOrElse("")
      val stream = Option(body.get("stream")).map(_.asText()).getOrElse("")
      if (prompt.isEmpty || stream.isEmpty) {
        err(ex, 400, "need prompt and stream"); return
      }
      val tenant = tenantOf(userOpt)
      val visible = streamsFor(tenant)
      visible.get(stream) match {
        case None =>
          respond(ex, 500, s"stream '$stream' not found",
            contentType = "text/plain")
        case Some(s) =>
          if (userOpt.exists(u => !Rbac.authorized(u, Rbac.QueryAction,
              tenantKey(tenant, stream)))) {
            err(ex, 403, s"user lacks query access to stream '$stream'")
            return
          }
          val schema = registry.get(tenantKey(tenant, stream))
            .getOrElse(QueryService.catalogRead(spark, stream, s).schema)
          val aiPrompt =
            Llm.buildPrompt(stream, prompt, Llm.schemaJson(schema))
          val req = java.net.http.HttpRequest.newBuilder()
            .uri(java.net.URI.create(cfg.url))
            // a hung provider must not pin a pool thread forever — the
            // shared client only bounds the CONNECT phase
            .timeout(java.time.Duration.ofSeconds(30))
            .header("Content-Type", "application/json")
            .header("Authorization", s"Bearer ${cfg.apiKey}")
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
              Llm.requestBody(cfg.model, aiPrompt)))
            .build()
          val resp =
            try httpClient.send(req,
              java.net.http.HttpResponse.BodyHandlers.ofString())
            catch {
              case e: Exception =>
                respond(ex, 500, s"Failed to call LLM endpoint: " +
                  s"${e.getMessage}", contentType = "text/plain")
                return
            }
          if (resp.statusCode() / 100 == 2)
            Llm.extractContent(resp.body()) match {
              case Right(content) =>
                respond(ex, 200, mapper.writeValueAsString(content))
              case Left(msg) =>
                respond(ex, 500, msg, contentType = "text/plain")
            }
          else
            respond(ex, 500,
              Llm.extractContent(resp.body()).left
                .getOrElse("Error from LLM provider"),
              contentType = "text/plain")
      }
  }
}
